"""Video (rawv) and audio (pcm16) multimodal tiers — fixtures/av.py,
multimodal/video.py, multimodal/audio.py."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from dedup_spark.fixtures.av import (
    AUDIO_WINDOW,
    FRAME_SIZE,
    RAWV_HEADER,
    decode_rawv,
    encode_rawv,
    energy_fingerprint,
    generate_audio_corpus,
    generate_video_corpus,
)
from dedup_spark.fixtures.materialize import fixture_parquet
from dedup_spark.multimodal.audio import (
    audio_fingerprint_clusters,
    audio_fingerprints,
)
from dedup_spark.multimodal.video import (
    frame_signatures,
    sample_frames,
    video_near_duplicates,
)


def test_rawv_roundtrip():
    frames = np.arange(2 * 8 * 8 * 3, dtype=np.uint8).reshape(2, 8, 8, 3) % 251
    data = encode_rawv(frames)
    assert data[:4] == b"RV01"
    out = decode_rawv(data)
    assert out.shape == (2, 8, 8, 3)
    assert np.array_equal(out, frames)


def test_video_corpus_deterministic():
    a = generate_video_corpus(n_base=10, seed=7)
    b = generate_video_corpus(n_base=10, seed=7)
    assert list(a.videos["video_id"]) == list(b.videos["video_id"])
    assert all(
        bytes(x) == bytes(y) for x, y in zip(a.videos["bytes"], b.videos["bytes"])
    )


def test_sample_frames_matches_jvm_slicing(spark):
    """The mapInPandas sampler and the codegen substring path must see
    byte-identical frames: md5(hex(frame)) of the sampled payloads ==
    frame_signatures output, row for row."""
    df = spark.read.parquet(fixture_parquet("videos"))
    sampled = {
        (r["video_id"], r["frame_idx"]): bytes(r["frame_bytes"])
        for r in sample_frames(df, every_n=4).collect()
    }
    jvm = {
        (r["video_id"], r["frame_idx"]): r["sig"]
        for r in frame_signatures(df, every_n=4).collect()
    }
    assert sampled.keys() == jvm.keys() and len(sampled) > 100
    for key, payload in sampled.items():
        assert (
            hashlib.md5(payload.hex().upper().encode()).hexdigest() == jvm[key]
        )


def test_sample_frames_skips_bad_containers(spark):
    good = encode_rawv(np.zeros((4, 2, 2, 3), dtype=np.uint8))
    rows = [
        ("ok", good, 2, 2, 4, "rawv"),
        ("bad_magic", b"XXXX" + good[4:], 2, 2, 4, "rawv"),
        ("truncated", good[:-5], 2, 2, 4, "rawv"),
        ("null", None, 2, 2, 4, "rawv"),
    ]
    df = spark.createDataFrame(
        rows, "video_id string, bytes binary, w int, h int, n_frames int, fmt string"
    )
    out = sample_frames(df, every_n=2).collect()
    assert {r["video_id"] for r in out} == {"ok"}
    assert sorted(r["frame_idx"] for r in out) == [0, 2]


def test_video_near_duplicates_story(spark):
    """Exact copies hit jaccard 1.0; end-trims and appends clear 0.5;
    unrelated base videos never pair."""
    corpus = generate_video_corpus()
    df = spark.read.parquet(fixture_parquet("videos"))
    pairs = {
        (r["id1"], r["id2"]): r["jaccard"]
        for r in video_near_duplicates(df, max_posting=None).collect()
    }
    expected = {tuple(sorted(g)) for g in corpus.near_groups}
    assert set(pairs) == expected
    for (id1, id2), jac in pairs.items():
        if id2.endswith("_copy.rawv"):
            assert jac == 1.0
        else:
            assert 0.5 <= jac < 1.0


def test_video_posting_cap_drops_viral_frame(spark):
    """A frame shared by every video floods its posting list; the cap
    removes that signature instead of emitting O(n^2) pairs."""
    shared = np.full((1, 2, 2, 3), 7, dtype=np.uint8)
    rows = []
    for i in range(8):
        unique = np.frombuffer(
            hashlib.sha256(b"v%d" % i).digest()[: 2 * 2 * 3], dtype=np.uint8
        ).reshape(1, 2, 2, 3)
        frames = np.concatenate([shared, unique])
        rows.append((f"v{i}", encode_rawv(frames), 2, 2, 2, "rawv"))
    df = spark.createDataFrame(
        rows, "video_id string, bytes binary, w int, h int, n_frames int, fmt string"
    )
    # every_n=1 samples both frames; the shared sig has 8 postings
    flooded = video_near_duplicates(df, every_n=1, threshold=0.3, max_posting=None)
    capped = video_near_duplicates(df, every_n=1, threshold=0.3, max_posting=4)
    assert flooded.count() == 28  # C(8,2) via the shared frame
    assert capped.count() == 0  # shared sig dropped, uniques don't pair


def test_audio_fingerprint_matches_reference_impl(spark):
    df = spark.read.parquet(fixture_parquet("audio"))
    got = {
        r["audio_id"]: (r["n_windows"], r["fingerprint"])
        for r in audio_fingerprints(df).collect()
    }
    pdf = pd.read_parquet(fixture_parquet("audio"))
    for _, row in pdf.iterrows():
        samples = np.frombuffer(bytes(row["bytes"]), dtype="<i2")
        assert got[row["audio_id"]] == (
            samples.shape[0] // AUDIO_WINDOW,
            energy_fingerprint(samples),
        )


def test_audio_clusters_amplitude_invariance(spark):
    """Half-volume and exact copies cluster with their base; distinct
    base signals stay apart (pinned corpus has no cross-base fp
    collisions)."""
    corpus = generate_audio_corpus()
    df = spark.read.parquet(fixture_parquet("audio"))
    out = {
        r["audio_id"]: r["cluster_id"]
        for r in audio_fingerprint_clusters(df).collect()
    }
    for group in corpus.dup_groups:
        roots = {out[aid] for aid in group}
        assert len(roots) == 1, group
    bases = [aid for aid in out if aid.endswith(".pcm") and "_" not in aid[4:]]
    assert len({out[b] for b in bases}) == len(bases)


def test_audio_short_and_null_rows_skipped(spark):
    rows = [
        ("ok", np.arange(512, dtype="<i2").tobytes(), 16000, 512, "pcm16"),
        ("short", np.arange(300, dtype="<i2").tobytes(), 16000, 300, "pcm16"),
        ("null", None, 16000, 0, "pcm16"),
    ]
    df = spark.createDataFrame(
        rows,
        "audio_id string, bytes binary, sample_rate int, n_samples int, fmt string",
    )
    out = audio_fingerprints(df).collect()
    assert [r["audio_id"] for r in out] == ["ok"]
    assert out[0]["n_windows"] == 2


def test_audio_long_clip_fingerprint_bounded(spark):
    """Clips longer than 65 windows must fingerprint ONLY the first 64
    deltas: numpy int64 shifts >= 64 are undefined (alias mod 64 on
    x86), so an unbounded pack would silently corrupt the key. Parity
    target is a pure-Python big-int pack over deltas [0, 64) — defined
    at any length — and two long clips that differ only after delta 64
    share a fingerprint but still carry the true full n_windows."""
    rng = np.random.default_rng(7)
    w = AUDIO_WINDOW
    a = rng.integers(-3000, 3000, size=100 * w, dtype=np.int64).astype("<i2")
    b = a.copy()
    b[70 * w:] = (a[70 * w:].astype(np.int64) * 3 // 4).astype("<i2")
    rows = [
        ("long_a", a.tobytes(), 16000, a.shape[0], "pcm16"),
        ("long_b", b.tobytes(), 16000, b.shape[0], "pcm16"),
    ]
    df = spark.createDataFrame(
        rows,
        "audio_id string, bytes binary, sample_rate int, n_samples int, fmt string",
    )
    got = {
        r["audio_id"]: (r["n_windows"], r["fingerprint"])
        for r in audio_fingerprints(df).collect()
    }
    x = a.astype(np.int64)
    e = (x * x).reshape(100, w).sum(axis=1)
    expected = sum(
        1 << i for i, d in enumerate(np.diff(e)[:64]) if d > 0
    )
    if expected >= 1 << 63:  # signed int64 column, like the oracle BIGINT
        expected -= 1 << 64
    assert got["long_a"] == (100, expected)
    assert got["long_b"] == (100, expected)  # differs only past delta 64


def test_frame_size_constant_consistent():
    assert FRAME_SIZE == 8 * 8 * 3
    assert RAWV_HEADER == 12


# --- MJPEG-in-AVI (real container; multimodal/avi.py) -----------------


def _avi_bytes(n_frames=6, vid=3, fps=25):
    from dedup_spark.fixtures.av import AVI_H, AVI_W, _avi_jpeg_frames
    from dedup_spark.multimodal.avi import encode_mjpeg_avi

    frames = _avi_jpeg_frames(vid, n_frames)
    return encode_mjpeg_avi(frames, AVI_W, AVI_H, fps=fps), frames


def test_avi_roundtrip_and_layout_contract():
    from dedup_spark.multimodal.avi import (
        AVI_CHUNK,
        AVI_HEADER_BYTES,
        AVI_TOTALFRAMES_OFF,
        parse_mjpeg_avi,
    )

    data, frames = _avi_bytes(n_frames=6)
    w, h, n, chunks = parse_mjpeg_avi(data)
    assert (w, h, n) == (16, 16, 6)
    # padded chunks carry the original JPEG as a prefix
    for orig, padded in zip(frames, chunks):
        assert len(padded) == AVI_CHUNK
        assert padded[: len(orig)] == orig
        assert padded[len(orig):] == b"\x00" * (AVI_CHUNK - len(orig))
    # the oracle's offset arithmetic rides on these
    assert data.find(b"00dc") == AVI_HEADER_BYTES
    assert data[AVI_TOTALFRAMES_OFF] == 6
    # the decoded frame is a real image (decoder gates separately)
    from dedup_spark.multimodal.jpeg import decode_jpeg

    assert decode_jpeg(chunks[0]).shape == (16, 16, 3)


def test_avi_parser_rejects_malformed():
    from dedup_spark.multimodal.avi import parse_mjpeg_avi

    data, _ = _avi_bytes(n_frames=4)
    for bad in [
        b"JUNK" + data[4:],               # bad RIFF magic
        data[:8] + b"WAVE" + data[12:],   # not an AVI form
        data[:-500],                      # truncated movi
        b"RIFF\x00\x00\x00\x00AVI ",      # no headers at all
    ]:
        with pytest.raises(ValueError):
            parse_mjpeg_avi(bad)


def test_avi_remux_and_trim_dedup_story(spark):
    """Exact copy -> jaccard 1.0; remux (same chunks, different fps
    header) -> 1.0 despite different container bytes; one-stride trim
    -> 2/3 at every_n=2 over 6 frames (sampled {0,2,4} vs {0,2});
    unrelated video -> no pair; corrupt container -> skipped."""
    from dedup_spark.fixtures.av import AVI_H, AVI_W, _avi_jpeg_frames
    from dedup_spark.multimodal.avi import (
        avi_frame_signatures,
        encode_mjpeg_avi,
    )
    from dedup_spark.multimodal.video import signature_set_pairs

    frames = _avi_jpeg_frames(11, 6)
    other = _avi_jpeg_frames(12, 6)
    base = encode_mjpeg_avi(frames, AVI_W, AVI_H)
    rows = [
        ("base", base, AVI_W, AVI_H, 6, "mjpeg-avi"),
        ("copy", base, AVI_W, AVI_H, 6, "mjpeg-avi"),
        ("remux", encode_mjpeg_avi(frames, AVI_W, AVI_H, fps=30),
         AVI_W, AVI_H, 6, "mjpeg-avi"),
        ("trim", encode_mjpeg_avi(frames[:4], AVI_W, AVI_H),
         AVI_W, AVI_H, 4, "mjpeg-avi"),
        ("other", encode_mjpeg_avi(other, AVI_W, AVI_H),
         AVI_W, AVI_H, 6, "mjpeg-avi"),
        ("corrupt", b"JUNK" + base[4:], AVI_W, AVI_H, 6, "mjpeg-avi"),
    ]
    df = spark.createDataFrame(
        rows,
        "video_id string, bytes binary, w int, h int, n_frames int, fmt string",
    )
    sigs = avi_frame_signatures(df, every_n=2)
    assert sigs.filter(F.col("video_id") == "corrupt").count() == 0
    got = {
        (r["id1"], r["id2"]): r["jaccard"]
        for r in signature_set_pairs(sigs, threshold=0.5).collect()
    }
    assert got[("base", "copy")] == 1.0
    assert got[("base", "remux")] == 1.0
    assert got[("copy", "remux")] == 1.0
    assert round(got[("base", "trim")], 6) == round(2 / 3, 6)
    assert not any("other" in k for k in got)


def test_avi_fixture_groups_pair_up(spark):
    """Every generator near-group must surface as pairs >= 0.5 in the
    driver query's exact-gate configuration."""
    from dedup_spark.fixtures.av import generate_avi_corpus
    from dedup_spark.multimodal.avi import avi_frame_signatures
    from dedup_spark.multimodal.video import signature_set_pairs

    corpus = generate_avi_corpus()
    df = spark.read.parquet(fixture_parquet("avi"))
    pairs = {
        frozenset((r["id1"], r["id2"]))
        for r in signature_set_pairs(
            avi_frame_signatures(df, every_n=2), threshold=0.5,
            max_posting=None,
        ).collect()
    }
    for group in corpus.near_groups:
        assert frozenset(group) in pairs, group


def test_avi_natural_size_chunks_word_alignment():
    """pad_to=None writes natural-size '00dc' chunks; odd JPEG lengths
    force the RIFF word-alignment pad byte between chunks, which the
    general walker must honor (fixed-stride offset math would break
    here — only the fixture's padded mode has fixed strides)."""
    from dedup_spark.fixtures.av import AVI_H, AVI_W, _avi_jpeg_frames
    from dedup_spark.multimodal.avi import encode_mjpeg_avi, parse_mjpeg_avi

    frames = _avi_jpeg_frames(21, 5)
    # force at least one odd-length chunk by appending a COM-style
    # trailing byte the decoder ignores (after EOI)
    frames = [f + b"\x00" if len(f) % 2 == 0 else f for f in frames]
    assert any(len(f) % 2 == 1 for f in frames)
    data = encode_mjpeg_avi(frames, AVI_W, AVI_H, pad_to=None)
    w, h, n, chunks = parse_mjpeg_avi(data)
    assert (w, h, n) == (16, 16, 5)
    assert [bytes(c) for c in chunks] == [bytes(f) for f in frames]
