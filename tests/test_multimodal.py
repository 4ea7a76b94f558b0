"""Multimodal plumbing tests: PPM decode is real; codec-heavy formats
are stubbed but the Spark-side schema/batch plumbing is exercised.
Includes the PSNR >= 40 dB decoded-pixel invariant (input_hint)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from dedup_spark.fixtures.images import (
    IMAGES_SCHEMA,
    decode_ppm,
    encode_ppm,
    generate_corpus,
    phash64,
    to_spark,
)
from dedup_spark.multimodal.decode import (
    decode_fidelity_pairs,
    extract_image_features,
    score_psnr_pairs,
)


def _psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return 10 * np.log10(255.0**2 / mse)


def test_ppm_roundtrip_lossless():
    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, size=(24, 17, 3), dtype=np.uint8)
    assert np.array_equal(decode_ppm(encode_ppm(px)), px)


def test_near_dup_generator_psnr_invariant():
    """Near-duplicate rows must decode within PSNR >= 40 dB of their
    original (input_hint per-row invariant); exact dups byte-equal."""
    corpus = generate_corpus(300, dup_ratio=0.3, near_dup_ratio=0.2, seed=5)
    imgs = corpus.images.set_index("image_id")
    truth = corpus.truth
    by_cluster = truth.groupby("cluster_id")["image_id"].apply(list)
    checked_near = 0
    for members in by_cluster:
        if len(members) < 2:
            continue
        ref = decode_ppm(imgs.loc[members[0], "bytes"])
        for other in members[1:]:
            b = imgs.loc[other, "bytes"]
            if b == imgs.loc[members[0], "bytes"]:
                continue  # exact dup: byte-equal, infinite PSNR
            px = decode_ppm(b)
            if px.shape != ref.shape:
                continue
            assert _psnr(ref, px) >= 40.0
            checked_near += 1
    assert checked_near > 0, "no near-dups generated to check"


def test_extract_features_and_unreadable_skip(spark):
    rng = np.random.default_rng(4)
    px = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    rows = [
        {
            "image_id": "ok",
            "bytes": encode_ppm(px),
            "w": 16, "h": 16, "fmt": "ppm",
            "caption": "c", "phash": int(phash64(px)),
        },
        {
            "image_id": "broken",
            "bytes": b"not an image at all",
            "w": 0, "h": 0, "fmt": "ppm",
            "caption": "c", "phash": 0,
        },
    ]
    df = spark.createDataFrame(pd.DataFrame(rows), schema=IMAGES_SCHEMA)
    got = {r["image_id"]: r for r in extract_image_features(df).collect()}
    assert got["ok"]["ok"] is True
    assert got["ok"]["recomputed_phash"] == int(phash64(px))
    assert abs(got["ok"]["mean_r"] - px[:, :, 0].mean()) < 1e-6
    assert got["broken"]["ok"] is False  # skip, don't crash (10^12 rule)
    assert got["broken"]["mean_r"] is None


def test_png_roundtrip_and_filters():
    """Pure-stdlib PNG codec: encode→decode round-trips exactly; all
    five filter types decode correctly (hand-filtered scanlines vs the
    spec's reconstruction functions); malformed inputs raise."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from dedup_spark.multimodal.png import _chunk, _SIG, decode_png, encode_png

    rng = np.random.default_rng(7)
    rgb = rng.integers(0, 256, size=(13, 9, 3), dtype=np.uint8)
    assert (decode_png(encode_png(rgb)) == rgb).all()
    grey = rng.integers(0, 256, size=(5, 7), dtype=np.uint8)
    out = decode_png(encode_png(grey))
    assert out.shape == (5, 7, 3) and (out[:, :, 0] == grey).all()
    rgba = rng.integers(0, 256, size=(4, 4, 4), dtype=np.uint8)
    assert (decode_png(encode_png(rgba)) == rgba[:, :, :3]).all()

    # hand-build a PNG using every filter type on known pixel rows,
    # filtering per the spec, and check reconstruction
    px = rng.integers(0, 256, size=(5, 6, 3), dtype=np.uint8).astype(np.int64)
    h, w, bpp = 5, 6, 3
    stride = w * bpp
    flat = px.reshape(h, stride)
    raw = bytearray()
    for y, ftype in enumerate([0, 1, 2, 3, 4]):
        cur = flat[y]
        prev = flat[y - 1] if y else np.zeros(stride, np.int64)
        line = np.zeros(stride, np.int64)
        for x in range(stride):
            left = cur[x - bpp] if x >= bpp else 0
            up = prev[x]
            ul = prev[x - bpp] if x >= bpp else 0
            if ftype == 0:
                line[x] = cur[x]
            elif ftype == 1:
                line[x] = cur[x] - left
            elif ftype == 2:
                line[x] = cur[x] - up
            elif ftype == 3:
                line[x] = cur[x] - ((left + up) >> 1)
            else:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if (pa <= pb and pa <= pc) else (up if pb <= pc else ul)
                line[x] = cur[x] - pred
        raw.append(ftype)
        raw.extend(int(v) & 0xFF for v in line)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    data = (
        _SIG + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )
    assert (decode_png(data).astype(np.int64) == px).all()

    for bad in (b"nope", _SIG + b"\x00" * 10):
        with pytest.raises(ValueError):
            decode_png(bad)


def test_extract_features_decodes_png_rows(spark):
    """The decode UDF handles fmt='png' rows for real (no PIL): the
    recomputed phash over PNG payloads equals the phash of the same
    pixels, and undecodable PNG bytes degrade to ok=false."""
    import numpy as np
    import pandas as pd

    from dedup_spark.fixtures.images import phash64
    from dedup_spark.multimodal.decode import extract_image_features
    from dedup_spark.multimodal.png import encode_png

    rng = np.random.default_rng(3)
    pxs = [rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8) for _ in range(3)]
    rows = [
        {"image_id": f"p{i}", "bytes": encode_png(px), "fmt": "png"}
        for i, px in enumerate(pxs)
    ]
    rows.append({"image_id": "broken", "bytes": b"\x89PNGgarbage", "fmt": "png"})
    df = spark.createDataFrame(
        pd.DataFrame(rows), schema="image_id string, bytes binary, fmt string"
    )
    got = {r["image_id"]: r for r in extract_image_features(df).collect()}
    for i, px in enumerate(pxs):
        assert got[f"p{i}"]["ok"]
        assert got[f"p{i}"]["recomputed_phash"] == int(phash64(px))
    assert not got["broken"]["ok"]


def test_score_psnr_pairs_contract(spark):
    """Decoded-pixel fidelity scorer: exact pair -> 999 dB sentinel;
    +/-1 single-channel perturbation -> ~53 dB, ok; genuinely
    different same-size images -> far below 40 dB, NOT ok; an
    undecodable side -> null psnr, NOT ok (skip, never crash)."""
    rng = np.random.default_rng(7)
    base = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    near = base.copy()
    near[:, :, 0] = np.where(near[:, :, 0] < 255, near[:, :, 0] + 1,
                             near[:, :, 0] - 1)
    other = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    rows = [
        ("a", encode_ppm(base), "ppm", "a2", encode_ppm(base), "ppm", True, True),
        ("b", encode_ppm(base), "ppm", "b2", encode_ppm(near), "ppm", False, True),
        ("c", encode_ppm(base), "ppm", "c2", encode_ppm(other), "ppm", False, False),
        ("d", encode_ppm(base), "ppm", "d2", b"not an image", "ppm", False, False),
    ]
    pairs = spark.createDataFrame(
        rows,
        "id1 string, bytes1 binary, fmt1 string, id2 string, bytes2 binary,"
        " fmt2 string, exact boolean, captions_equal boolean",
    )
    got = {r["id1"]: r for r in score_psnr_pairs(pairs).collect()}
    assert got["a"]["psnr_ok"] and got["a"]["psnr_db"] == 999.0
    assert got["b"]["psnr_ok"] and 48.0 <= got["b"]["psnr_db"] <= 60.0
    assert not got["c"]["psnr_ok"] and got["c"]["psnr_db"] < 20.0
    assert not got["d"]["psnr_ok"] and got["d"]["psnr_db"] is None


def test_decode_fidelity_pairs_groups_and_scores(spark):
    """End-to-end: the metadata self-join pairs only same-(w,h,phash)
    rows and the scorer marks the exact pair byte-equal with equal
    captions."""
    rng = np.random.default_rng(9)
    px = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    other = rng.integers(0, 256, size=(20, 16, 3), dtype=np.uint8)
    rows = [
        {"image_id": "x1", "bytes": encode_ppm(px), "w": 16, "h": 16,
         "fmt": "ppm", "caption": "same cap", "phash": int(phash64(px))},
        {"image_id": "x2", "bytes": encode_ppm(px), "w": 16, "h": 16,
         "fmt": "ppm", "caption": "same cap", "phash": int(phash64(px))},
        {"image_id": "y1", "bytes": encode_ppm(other), "w": 16, "h": 20,
         "fmt": "ppm", "caption": "other", "phash": int(phash64(other))},
    ]
    df = spark.createDataFrame(pd.DataFrame(rows), schema=IMAGES_SCHEMA)
    got = decode_fidelity_pairs(df).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["id1"], r["id2"]) == ("x1", "x2")
    assert r["exact"] and r["captions_equal"] and r["psnr_ok"]


def test_jpeg_roundtrip_psnr_and_determinism():
    """From-scratch baseline JPEG codec (multimodal/jpeg.py): the lossy
    round trip must clear the 40 dB north-rule gate with margin on the
    worst case (pure noise), be byte-deterministic, and degrade
    monotonically with quality."""
    from dedup_spark.multimodal.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(7)
    cases = {
        "noise": rng.integers(0, 256, size=(64, 64, 3), dtype=np.uint8),
        "odd_dims": rng.integers(0, 256, size=(17, 23, 3), dtype=np.uint8),
        "smooth": (
            np.outer(np.linspace(0, 255, 40), np.ones(56))[..., None]
            * [1.0, 0.5, 0.25]
        ).astype(np.uint8),
        "tiny": np.array([[[200, 10, 99]]], dtype=np.uint8),
    }
    for name, px in cases.items():
        back = decode_jpeg(encode_jpeg(px))
        assert back.shape == px.shape, name
        assert _psnr(px, back) >= 42.0, name  # 2 dB above the gate
    # grayscale input decodes to replicated RGB
    g = rng.integers(0, 256, size=(20, 20), dtype=np.uint8)
    back = decode_jpeg(encode_jpeg(g))
    assert back.shape == (20, 20, 3)
    assert _psnr(np.stack([g] * 3, axis=-1), back) >= 42.0
    # deterministic bytes (oracle-parity requirement)
    assert encode_jpeg(cases["noise"]) == encode_jpeg(cases["noise"])
    # lossier quality -> lower fidelity, both still decode
    lo = _psnr(cases["noise"], decode_jpeg(encode_jpeg(cases["noise"], quality=80)))
    hi = _psnr(cases["noise"], decode_jpeg(encode_jpeg(cases["noise"], quality=99)))
    assert lo < hi


def test_jpeg_decoder_rejects_out_of_scope():
    """Non-baseline / non-1:1-sampling / corrupt inputs raise ValueError
    (mapped to the unreadable-row skip by the decode UDFs)."""
    from dedup_spark.multimodal.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(3)
    good = encode_jpeg(rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8))
    # progressive (SOF2) is out of scope
    with pytest.raises(ValueError, match="baseline"):
        decode_jpeg(good.replace(b"\xff\xc0", b"\xff\xc2", 1))
    # 4:2:0 subsampling is out of scope: flip the first component's
    # sampling byte inside SOF0 (offset 11 past the marker)
    sub = bytearray(good)
    sub[sub.index(b"\xff\xc0") + 11] = 0x22
    with pytest.raises(ValueError, match="sampling"):
        decode_jpeg(bytes(sub))
    for bad in (b"", b"nope", b"\xff\xd8\xff\xd9", good[:30]):
        with pytest.raises(ValueError):
            decode_jpeg(bad)


def test_extract_features_decodes_jpeg_rows(spark):
    """fmt='jpeg' rows decode for real in the feature UDF: the
    recomputed phash equals the phash of the (deterministically) lossy
    pixels, and garbage jpeg bytes degrade to ok=false."""
    from dedup_spark.multimodal.decode import extract_image_features
    from dedup_spark.multimodal.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(5)
    pxs = [rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8) for _ in range(2)]
    rows = [
        {"image_id": f"j{i}", "bytes": encode_jpeg(px), "fmt": "jpeg"}
        for i, px in enumerate(pxs)
    ]
    rows.append({"image_id": "broken", "bytes": b"\xff\xd8garbage", "fmt": "jpeg"})
    df = spark.createDataFrame(
        pd.DataFrame(rows), schema="image_id string, bytes binary, fmt string"
    )
    got = {r["image_id"]: r for r in extract_image_features(df).collect()}
    for i, px in enumerate(pxs):
        assert got[f"j{i}"]["ok"]
        expect = phash64(decode_jpeg(encode_jpeg(px)))
        assert got[f"j{i}"]["recomputed_phash"] == int(expect)
    assert not got["broken"]["ok"]


def test_lossy_roundtrip_fidelity_operator(spark):
    """The driver-gated operator: decodable rows round-trip through the
    real lossy codec at >= 40 dB (ok & psnr_ok); undecodable rows
    degrade to (ok=false, psnr_ok=false) without killing the job."""
    from dedup_spark.multimodal.decode import lossy_roundtrip_fidelity

    rng = np.random.default_rng(11)
    rows = [
        {
            "image_id": f"i{i}",
            "bytes": encode_ppm(
                rng.integers(0, 256, size=(12, 9, 3), dtype=np.uint8)
            ),
            "fmt": "ppm",
        }
        for i in range(3)
    ]
    rows.append({"image_id": "bad", "bytes": b"P6 garbage", "fmt": "ppm"})
    df = spark.createDataFrame(
        pd.DataFrame(rows), schema="image_id string, bytes binary, fmt string"
    )
    got = {r["image_id"]: r for r in lossy_roundtrip_fidelity(df).collect()}
    for i in range(3):
        assert got[f"i{i}"]["ok"] and got[f"i{i}"]["psnr_ok"]
    assert not got["bad"]["ok"] and not got["bad"]["psnr_ok"]


def test_crossformat_pixel_dedup_clusters(spark):
    """Pixel-content identity across container formats: byte-identical
    originals re-encoded as ppm/png share ONE pixel cluster (byte dedup
    would see three distinct payloads), the deterministic lossy jpeg
    variants form their own pixel-exact cluster per byte-group, and a
    near-dup (different pixels) never joins either."""
    from dedup_spark.multimodal.decode import pixel_sha, reencode_variants

    rng = np.random.default_rng(13)
    px = rng.integers(0, 256, size=(10, 14, 3), dtype=np.uint8)
    near = px.copy()
    near[0, 0, 0] ^= 1
    rows = [
        {"image_id": "a", "bytes": encode_ppm(px), "fmt": "ppm"},
        {"image_id": "b", "bytes": encode_ppm(px), "fmt": "ppm"},  # byte dup
        {"image_id": "c", "bytes": encode_ppm(near), "fmt": "ppm"},
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows), schema="image_id string, bytes binary, fmt string"
    )
    ph = pixel_sha(reencode_variants(df))
    shas = {r["image_id"]: r["pixel_sha"] for r in ph.collect()}
    assert all(r["ok"] for r in ph.collect())
    # lossless variants of a and b all share one pixel identity
    lossless = {
        shas[f"{i}#{f}"]
        for i in "ab"
        for f in ("ppm", "png", "webp", "tiff", "gif")
    }
    assert len(lossless) == 1
    # the lossy tier is deterministic: a and b's jpegs agree...
    assert shas["a#jpeg"] == shas["b#jpeg"]
    # ...but differ from the lossless pixels, and the near-dup touches
    # neither tier's identity
    assert shas["a#jpeg"] not in lossless
    assert shas["c#ppm"] not in lossless and shas["c#jpeg"] != shas["a#jpeg"]


def test_multimodal_pipeline_fuses_three_edge_signals(spark):
    """The fused north-star cascade (q_multimodal_dedup_pipeline
    composition): a byte-exact edge, a phash Hamming edge, and a
    caption MinHash edge must CHAIN into one transitive cluster, with
    the shortest-id canonical and singletons self-clustered. The
    pipeline's metrics say which CC path ran and over how many edges."""
    from dedup_spark.config import DedupConfig
    from dedup_spark.pipeline import dedup_pipeline
    from dedup_spark.plans.lineage import StageMetrics

    far1 = int(np.int64(-1))  # 0xFFFF... as signed
    far2 = 0x0F0F0F0F0F0F0F0F
    rows = [
        # a == b byte-identical (exact edge)
        ("a", b"\x01payload-one", 4, 4, "ppm", "alpha beta gamma delta one", 0),
        ("b", b"\x01payload-one", 4, 4, "ppm", "epsilon zeta eta theta two", 0),
        # c: hamming(phash_c, phash_a) = 2 <= radius 3 (phash edge)
        ("c", b"\x02payload-two", 4, 4, "ppm", "red fox jumps over lazy dog", 3),
        # d: caption identical to c (jaccard 1 >= 0.9), phash far away
        ("d", b"\x03payload-thr", 4, 4, "ppm", "red fox jumps over lazy dog", far1),
        # e: nothing in common with anyone
        ("e", b"\x04payload-fou", 4, 4, "ppm", "totally different caption words here", far2),
    ]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"
    )
    m = StageMetrics("dedup_pipeline")
    out = dedup_pipeline(
        df,
        cfg=DedupConfig(jaccard_threshold=0.9),
        metrics=m,
        caption_band_bucket=1 << 20,
        phash_band_bucket=4096,
    ).select("image_id", "cluster_id", "is_canonical")
    got = {r["image_id"]: (r["cluster_id"], r["is_canonical"]) for r in out.collect()}
    # one transitive cluster a-b (bytes) -c (phash) -d (caption), rooted at "a"
    assert got == {
        "a": ("a", True),
        "b": ("a", False),
        "c": ("a", False),
        "d": ("a", False),
        "e": ("e", True),
    }
    # CC finished in one task over the 4 distinct edges a-b (bytes and
    # phash), a-c and b-c (phash), c-d (caption); no star round ran
    vals = {e["stage"]: e["value"] for e in m.entries if e["metric"] == "value"}
    assert vals == {"local_finish_edges": 4}


def test_fused_pipeline_job_count_is_pinned(spark):
    """Job barriers, not data, bound the fused pass. Building and
    collecting ``dedup_pipeline`` on a 60-image corpus runs 18 Spark
    jobs (24 with the checkpoint-and-join-back group aggregates of the
    exact, banding and canonical steps, 31 with the exact tier's
    key-set checkpoints and the prune under the shingle checkpoint, 54
    with the star loop and the eager build-time checkpoints); the pin
    leaves 5 jobs of headroom for AQE's runtime plan choices. A new
    checkpoint over a shuffle or a star round on this graph breaks it.

    A second pass on the same corpus must reuse the generated classes
    of the first (182 on a cold session): it compiles 2-12, where
    Spark's default 100-entry codegen cache recompiled 177-180."""
    import uuid

    from dedup_spark.pipeline import dedup_pipeline
    from dedup_spark.plans.lineage import StageMetrics

    imgs, _ = to_spark(
        spark, generate_corpus(60, dup_ratio=0.3, near_dup_ratio=0.2, seed=11)
    )
    sc = spark.sparkContext
    group = f"fused-job-count-{uuid.uuid4().hex}"
    m = StageMetrics("dedup_pipeline")
    sc.setJobGroup(group, "fused pipeline job count", False)
    try:
        rows = dedup_pipeline(imgs, metrics=m).collect()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert len(rows) == 60
    assert not any(e["stage"].startswith("iter_") for e in m.entries), m.entries
    assert jobs <= 23, jobs

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    before = compiles.METRIC_COMPILATION_TIME().getCount()
    assert len(dedup_pipeline(imgs).collect()) == 60
    recompiled = compiles.METRIC_COMPILATION_TIME().getCount() - before
    assert recompiled <= 30, recompiled


def test_fused_pipeline_build_barrier_is_pinned(spark):
    """Building ``dedup_pipeline`` on the 60-image corpus starts 2 SQL
    executions and 13 jobs, all before any action: both executions are
    connected components' edge checkpoint plus its ``_sig`` count, the
    one deliberate barrier (under AQE a ``localCheckpoint`` runs every
    shuffle below it at the call, so every tier's candidate and verify
    jobs run there). Every per-group aggregate of the other steps is a
    window, so they need no lineage cut. With the exact tier's payload
    cut, the two banding checkpoints and the shingle checkpoint, the
    build started 6 executions and 18 jobs; before that, 8 and 25. The
    job pin leaves 2 of headroom for AQE's runtime plan choices."""
    import uuid

    from dedup_spark.pipeline import dedup_pipeline

    imgs, _ = to_spark(
        spark, generate_corpus(60, dup_ratio=0.3, near_dup_ratio=0.2, seed=11)
    )
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()
    bus = sc._jsc.sc().listenerBus()
    group = f"fused-build-{uuid.uuid4().hex}"
    bus.waitUntilEmpty()
    before = store.executionsCount()
    sc.setJobGroup(group, "fused pipeline build", False)
    try:
        out = dedup_pipeline(imgs)
    finally:
        sc._jsc.clearJobGroup()
    bus.waitUntilEmpty()
    executions = store.executionsCount() - before
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert out.count() == 60
    assert executions == 2, executions
    assert jobs <= 15, jobs
