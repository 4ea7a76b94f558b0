"""Exact-tier e2e scenarios — the reference's test suite re-expressed as
image+caption rows (FIXTURES.md; reference tests/duplicate_detection.rs,
tests/size_filters.rs, src/hasher.rs boundary tests)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from dedup_spark.config import DedupConfig
from dedup_spark.fixtures.images import (
    IMAGES_SCHEMA,
    PROFILES,
    encode_ppm,
    generate_corpus,
    phash64,
    to_spark,
)
from dedup_spark.operators.canonical import action_summary, merge_assignments, with_canonical
from dedup_spark.operators.exact import duplicate_stats, exact_duplicate_clusters
from dedup_spark.operators.report import format_human, has_duplicates, to_json_report
from dedup_spark.sources.filters import apply_scan_filters


def _row(image_id, pixels, caption="a cat"):
    data = encode_ppm(pixels)
    h, w, _ = pixels.shape
    return {
        "image_id": image_id,
        "bytes": data,
        "w": w,
        "h": h,
        "fmt": "ppm",
        "caption": caption,
        "phash": int(phash64(pixels)),
    }


def _pixels(seed, w=16, h=16):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def _df(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows), schema=IMAGES_SCHEMA)


def test_identical_pair(spark):
    # tests/duplicate_detection.rs:7-27
    px = _pixels(1)
    df = _df(spark, [_row("a/1", px), _row("a/2", px)])
    asg = exact_duplicate_clusters(df)
    rows = {r["image_id"]: r for r in asg.collect()}
    assert set(rows) == {"a/1", "a/2"}
    assert rows["a/1"]["cluster_id"] == rows["a/2"]["cluster_id"] == "a/1"
    stats = duplicate_stats(asg).first()
    assert stats["duplicate_groups"] == 1
    assert stats["duplicate_rows"] == 2
    assert stats["wasted_bytes"] == len(encode_ppm(px))


def test_all_unique(spark):
    # tests/duplicate_detection.rs:29-48
    df = _df(spark, [_row("a/1", _pixels(1)), _row("a/2", _pixels(2))])
    asg = exact_duplicate_clusters(df)
    assert asg.count() == 0
    assert not has_duplicates(asg)
    stats = duplicate_stats(asg).first()
    assert stats["duplicate_groups"] == 0
    assert stats["wasted_bytes"] == 0


def test_large_pair_crossing_prefix_window(spark):
    # tests/duplicate_detection.rs:50-70 — payload > 8 KiB prefix window
    px = _pixels(3, w=64, h=64)  # 12 KiB + header > 8 KiB
    df = _df(spark, [_row("a/1", px), _row("a/2", px)])
    assert exact_duplicate_clusters(df).count() == 2


def test_prefix_collision_different_tail(spark):
    # src/hasher.rs:138-160,231-257 — same first 8 KiB, different tail,
    # same length, same phash → prefix signatures match, full hash differs
    px1 = _pixels(4, w=64, h=64)
    px2 = px1.copy()
    px2[-1, -1, -1] ^= 0xFF  # flip last byte (beyond the 8 KiB prefix)
    r1, r2 = _row("a/1", px1), _row("a/2", px2)
    r2["phash"] = r1["phash"]  # force stage-1/2 collision
    df = _df(spark, [r1, r2])
    assert exact_duplicate_clusters(df).count() == 0


def test_two_groups_never_merge(spark):
    # tests/duplicate_detection.rs:72-109, tests/hardlink.rs:109-139
    pa, pb = _pixels(5), _pixels(6, w=20)
    df = _df(
        spark,
        [_row("a/1", pa), _row("a/2", pa), _row("b/1", pb), _row("b/2", pb)],
    )
    asg = exact_duplicate_clusters(df)
    clusters = {r["image_id"]: r["cluster_id"] for r in asg.collect()}
    assert clusters["a/1"] == clusters["a/2"]
    assert clusters["b/1"] == clusters["b/2"]
    assert clusters["a/1"] != clusters["b/1"]
    stats = duplicate_stats(asg).first()
    assert stats["duplicate_groups"] == 2
    assert stats["duplicate_rows"] == 4
    assert stats["wasted_bytes"] == len(encode_ppm(pa)) + len(encode_ppm(pb))


def test_triple_wasted_bytes(spark):
    # tests/duplicate_detection.rs:111-134 — wasted = 2 × size
    px = _pixels(7)
    df = _df(spark, [_row("a/1", px), _row("a/2", px), _row("a/3", px)])
    stats = duplicate_stats(exact_duplicate_clusters(df)).first()
    assert stats["duplicate_rows"] == 3
    assert stats["wasted_bytes"] == 2 * len(encode_ppm(px))


def test_size_filters_select_groups(spark):
    # tests/size_filters.rs:7-99 — min/max band selects which group survives
    small, med, large = _pixels(8, 4, 4), _pixels(9, 16, 16), _pixels(10, 64, 64)
    rows = []
    for tag, px in [("s", small), ("m", med), ("l", large)]:
        rows += [_row(f"{tag}/1", px), _row(f"{tag}/2", px)]
    df = _df(spark, rows)
    n_med = len(encode_ppm(med))
    filtered = apply_scan_filters(df, min_size=n_med - 1, max_size=n_med + 1)
    asg = exact_duplicate_clusters(filtered)
    assert {r["image_id"][:1] for r in asg.collect()} == {"m"}


def test_empty_payload_excluded(spark):
    # src/scanner.rs:96-99 — zero-length rows never group
    px = _pixels(11)
    rows = [_row("a/1", px), _row("a/2", px)]
    empty = _row("e/1", px)
    empty["bytes"] = b""
    empty2 = dict(empty, image_id="e/2")
    df = _df(spark, rows + [empty, empty2])
    asg = exact_duplicate_clusters(apply_scan_filters(df))
    assert {r["image_id"] for r in asg.collect()} == {"a/1", "a/2"}


def test_include_exclude_precedence(spark):
    # tests/glob_pattern.rs:337-364 — exclude wins over include
    px = _pixels(12)
    df = _df(
        spark,
        [
            _row("keep/a.ppm", px),
            _row("keep/b.ppm", px),
            _row("vendor/a.ppm", px),
            _row("vendor/b.ppm", px),
        ],
    )
    filtered = apply_scan_filters(
        df, include=["**/*.ppm"], exclude=["vendor/**"]
    )
    asg = exact_duplicate_clusters(filtered)
    ids = {r["image_id"] for r in asg.collect()}
    assert ids == {"keep/a.ppm", "keep/b.ppm"}


def test_canonical_shortest_id_and_idempotent_merge(spark):
    # src/actions.rs:21-26 (shortest id canonical), 70-80 (idempotence);
    # tests/hardlink.rs:60-85 ("Linked 0 files" on re-run)
    px = _pixels(13)
    df = _df(spark, [_row("a/1", px), _row("a/22", px), _row("a/333", px)])
    marked = with_canonical(exact_duplicate_clusters(df))
    canon = {r["image_id"]: r["is_canonical"] for r in marked.collect()}
    assert canon == {"a/1": True, "a/22": False, "a/333": False}
    summary = action_summary(marked).first()
    assert summary["rows_linked"] == 2
    assert summary["bytes_saved"] == 2 * len(encode_ppm(px))
    # idempotent re-run: merging identical assignments adds zero rows
    merged = merge_assignments(marked, existing=marked)
    assert merged.count() == marked.count()


def test_json_report_contract(spark):
    # tests/output_format.rs:42-99 — JSON schema fields
    px = _pixels(14)
    df = _df(spark, [_row("a/1", px), _row("a/2", px), _row("u/1", _pixels(15))])
    asg = exact_duplicate_clusters(df)
    report = to_json_report(asg, total_rows=df.count())
    assert report["stats"] == {
        "total_files": 3,
        "duplicate_files": 2,
        "wasted_bytes": len(encode_ppm(px)),
    }
    assert report["groups"] == [
        {"size": len(encode_ppm(px)), "files": ["a/1", "a/2"]}
    ]
    assert "total rows" in format_human(report)


@pytest.mark.parametrize(
    "profile,dup_ratio",
    [(p, d) for p in PROFILES for d in (0.1, 0.3, 0.6)],
)
def test_generated_corpus_full_recall(spark, profile, dup_ratio):
    # benchmark-level accuracy oracle over the reference's matrix
    # (benchmark/runner.py:181-209, 221-271; 3 size profiles x 3 dup
    # ratios): exact tier must find exactly the generator's duplicate
    # pairs in every cell
    corpus = generate_corpus(300, dup_ratio=dup_ratio, profile=profile, seed=42)
    assert corpus.true_pairs()
    imgs, _ = to_spark(spark, corpus)
    asg = exact_duplicate_clusters(imgs)
    found = {}
    for r in asg.collect():
        found.setdefault(r["cluster_id"], []).append(r["image_id"])
    found_pairs = {
        (a, b)
        for ids in found.values()
        for i, a in enumerate(sorted(ids))
        for b in sorted(ids)[i + 1 :]
    }
    assert found_pairs == corpus.true_pairs()


def test_null_metadata_duplicates_still_group(spark):
    # ADVICE r1: stage-1 groups on metadata keys — byte-identical rows
    # with NULL phash/w/h/fmt must still group (null-safe semi-join)
    px = _pixels(17)
    r1, r2 = _row("n/1", px), _row("n/2", px)
    for r in (r1, r2):
        r["phash"] = None
        r["w"] = None
        r["h"] = None
        r["fmt"] = None
    unique = _row("u/1", _pixels(18))
    unique["phash"] = None
    df = _df(spark, [r1, r2, unique])
    asg = exact_duplicate_clusters(df)
    rows = {r["image_id"]: r["cluster_id"] for r in asg.collect()}
    assert rows == {"n/1": "n/1", "n/2": "n/1"}


@pytest.mark.parametrize("fuse", [True, False])
def test_cascade_3pass_parity(spark, fuse):
    # src/hasher.rs:77-79 H4 prefix-hash grouping: the non-fused 3-pass
    # cascade must produce byte-identical output to the fused plan on
    # the prefix-collision fixture AND a generated dup corpus
    px1 = _pixels(4, w=64, h=64)
    px2 = px1.copy()
    px2[-1, -1, -1] ^= 0xFF  # same 8 KiB prefix, different tail
    r1, r2 = _row("p/1", px1), _row("p/2", px2)
    r2["phash"] = r1["phash"]
    pd_ = _pixels(19)
    rows = [r1, r2, _row("d/1", pd_), _row("d/2", pd_), _row("d/3", pd_)]
    df = _df(spark, rows)
    out = {
        tuple(r)
        for r in exact_duplicate_clusters(df, fuse_full_hash=fuse).collect()
    }
    assert out == {
        ("d/1", "d/1", len(encode_ppm(pd_)), 3),
        ("d/2", "d/1", len(encode_ppm(pd_)), 3),
        ("d/3", "d/1", len(encode_ppm(pd_)), 3),
    }


def test_fused_vs_3pass_on_corpus(spark):
    corpus = generate_corpus(150, dup_ratio=0.4, seed=7)
    imgs, _ = to_spark(spark, corpus)
    fused = {tuple(r) for r in exact_duplicate_clusters(imgs, fuse_full_hash=True).collect()}
    threep = {tuple(r) for r in exact_duplicate_clusters(imgs, fuse_full_hash=False).collect()}
    assert fused == threep
    assert fused  # non-vacuous


def test_unreadable_rows_skipped(spark):
    # src/hasher.rs:57-60 — null payloads silently dropped
    px = _pixels(16)
    rows = [_row("a/1", px), _row("a/2", px)]
    bad = _row("x/1", px)
    bad["bytes"] = None
    df = _df(spark, rows + [bad])
    asg = exact_duplicate_clusters(df)
    assert {r["image_id"] for r in asg.collect()} == {"a/1", "a/2"}
