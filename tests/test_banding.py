"""Direct unit tests for the shared pair generators: the star-guarded
one all four LSH-family tiers ride on, and the capped shared-key one
of the four inverted-index tiers."""

from __future__ import annotations

import logging
import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from dedup_spark.config import DEFAULT_CONFIG
from dedup_spark.fixtures.av import encode_rawv
from dedup_spark.fixtures.images import encode_ppm
from dedup_spark.multimodal.patches import shared_patch_pairs
from dedup_spark.multimodal.rotinv import verified_rotation_pairs
from dedup_spark.multimodal.video import video_near_duplicates
from dedup_spark.operators.banding import shared_key_pairs, star_guarded_pairs
from dedup_spark.operators.suffix import char_substring_pairs, containment_pairs


def _bucketed(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["_id", "b", "h"])
    ).select("_id", "b", F.col("h"))


def test_bucket_exactly_at_cap_emits_all_pairs(spark):
    rows = [(f"x{i}", 1, 10 + i) for i in range(4)]  # n == max_bucket
    got = {
        (r["id1"], r["id2"])
        for r in star_guarded_pairs(_bucketed(spark, rows), ["b"], max_bucket=4).collect()
    }
    assert len(got) == 6  # C(4,2) — cap is inclusive


def test_bucket_over_cap_stars_to_min(spark):
    rows = [(f"x{i}", 1, 0) for i in range(5)]  # n == max_bucket + 1
    got = {
        (r["id1"], r["id2"])
        for r in star_guarded_pairs(_bucketed(spark, rows), ["b"], max_bucket=4).collect()
    }
    assert got == {("x0", f"x{i}") for i in range(1, 5)}  # O(n) star

    # every star edge carries the center's own value, not another row's
    rows = [(f"x{i}", 1, 10 + i) for i in range(5)]
    out = star_guarded_pairs(
        _bucketed(spark, rows), ["b"], max_bucket=4, carry_cols=["h"]
    ).collect()
    assert {(r["id1"], r["id2"], r["h1"], r["h2"]) for r in out} == {
        ("x0", f"x{i}", 10, 10 + i) for i in range(1, 5)
    }


def test_multi_bucket_dedup_and_carry(spark):
    # same pair colliding in two buckets → one output row; carried
    # values come from the pair's own rows
    rows = [("a", 1, 100), ("b", 1, 200), ("a", 2, 100), ("b", 2, 200), ("c", 2, 300)]
    out = star_guarded_pairs(
        _bucketed(spark, rows), ["b"], max_bucket=64, id_col="_id", carry_cols=["h"]
    ).collect()
    pairs = {(r["id1"], r["id2"]): (r["h1"], r["h2"]) for r in out}
    assert set(pairs) == {("a", "b"), ("a", "c"), ("b", "c")}
    assert pairs[("a", "b")] == (100, 200)
    assert pairs[("b", "c")] == (200, 300)


def _node_names(plan):
    yield plan.nodeName()
    children = plan.children()
    for i in range(children.size()):
        yield from _node_names(children.apply(i))


@pytest.fixture
def static_sort_merge(no_aqe):
    prev = no_aqe.conf.get("spark.sql.autoBroadcastJoinThreshold")
    no_aqe.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield no_aqe
    no_aqe.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


@pytest.mark.parametrize("tier", ["band_candidates", "hamming_candidates"])
def test_star_guard_is_one_self_join(static_sort_merge, tier):
    """Within-bucket pairs and flood stars come from one self-join: the
    executed plan windows the bucketed rows once per join side and
    unions nothing."""
    from dedup_spark.operators.minhash import band_candidates
    from dedup_spark.operators.simhash import hamming_candidates

    s = static_sort_merge
    if tier == "band_candidates":
        df = s.createDataFrame(
            [(i, f"doc {i % 3} alpha beta gamma delta epsilon") for i in range(6)],
            "doc_id long, text string",
        )
        out = band_candidates(df, "doc_id", "text")
    else:
        df = s.createDataFrame(
            [(f"i{i}", 1 << (i % 3)) for i in range(6)], "image_id string, phash long"
        )
        out = hamming_candidates(df)
    names = list(_node_names(out._jdf.queryExecution().executedPlan()))
    assert names.count("Window") == 2, names
    assert "Union" not in names, names


def test_singleton_buckets_emit_nothing(spark):
    rows = [("a", 1, 0), ("b", 2, 0)]
    assert star_guarded_pairs(_bucketed(spark, rows), ["b"], max_bucket=4).count() == 0


def test_null_bucket_key_emits_nothing(spark):
    """A null bucket key is no bucket, whatever its size: 300 rows with
    a null phash under the default guard (a star-sized null bucket in
    every band), and a null bucket below and above a small cap, emit
    no pair; the two real duplicates still pair."""
    from dedup_spark.operators.simhash import hamming_candidates

    df = spark.createDataFrame(
        [(f"n{i:03d}", None) for i in range(300)] + [("a", 7), ("b", 7)],
        "image_id string, phash long",
    )
    got = {(r["id1"], r["id2"]) for r in hamming_candidates(df).collect()}
    assert got == {("a", "b")}

    rows = [(f"x{i}", None, 0) for i in range(3)]
    for cap in (2, 4):  # star-guarded and all-pairs null bucket
        out = star_guarded_pairs(_bucketed(spark, rows), ["b"], max_bucket=cap)
        assert out.count() == 0, cap


def test_flood_corpus_default_guard_end_to_end(spark):
    """VERDICT r2 #7: a duplicate flood (120 identical docs, ≫ the
    default band guard of 64) through the DEFAULT-guard production
    pipeline. Proves (1) the guard actually fires — candidate pair
    volume is O(n) star edges, not C(n,2); (2) cluster-level recall
    survives: CC reunites the whole flood plus the near-dup satellites."""
    from dedup_spark.operators.components import connected_components
    from dedup_spark.operators.minhash import band_candidates, minhash_near_duplicates

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    rows = [(i, base) for i in range(120)]  # the flood
    rows += [(200, base + "tail_a extra_a"), (201, base + "tail_b extra_b")]
    rows += [(300 + i, f"unrelated text number {i} with its own words here "
              f"padded out for shingles {i}") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # (1) guard fires: default max_band_bucket=64 < 120 ⇒ star edges.
    # All 16 bands of the 120 identical docs collapse to one star each;
    # uncapped C(120,2)=7140 pairs would dwarf the O(n) bound below.
    cand = band_candidates(df, "doc_id", "text")
    n_cand = cand.count()
    assert n_cand < 4 * 127, n_cand

    # (2) cluster recall: the flood + both satellites form ONE cluster
    pairs = minhash_near_duplicates(df, id_col="doc_id", text_col="text")
    cc = connected_components(pairs.select("id1", "id2"))
    clusters = {r["id"]: r["cluster_id"] for r in cc.collect()}
    flood_cluster = {clusters[i] for i in range(120)}
    assert flood_cluster == {0}
    assert clusters[200] == 0 and clusters[201] == 0
    for i in range(300, 305):
        assert i not in clusters or clusters[i] != 0


def test_shared_key_pairs_counts_keys_and_caps_inclusively(spark):
    # a and b share keys 1 and 2; key 3 is held by 3 ids (> cap 2)
    rows = [(1, "a", 10), (1, "b", 20), (2, "a", 10), (2, "b", 20),
            (3, "a", 10), (3, "c", 30), (3, "d", 40), (4, "e", 50)]
    df = spark.createDataFrame(rows, "k int, _id string, sz int")
    capped = shared_key_pairs(df, "k", 2, "test", carry_cols=["sz"]).collect()
    assert [tuple(r) for r in capped] == [("a", "b", 2, 10, 20)]
    full = {
        (r["id1"], r["id2"]): r["n_shared"]
        for r in shared_key_pairs(df, "k", None, "test").collect()
    }
    assert full == {("a", "b"): 2, ("a", "c"): 1, ("a", "d"): 1, ("c", "d"): 1}


def _flood_docs(spark):
    # exactly one shingle, held by all three docs
    text = " ".join(f"w{i}" for i in range(DEFAULT_CONFIG.shingle_k))
    return spark.createDataFrame(
        [(i, text) for i in range(3)], "doc_id long, text string"
    )


def _flood_texts(spark):
    # one 24-byte text, so one byte-24-gram, held by all three docs
    return spark.createDataFrame(
        [(i, "abcdefghijklmnopqrstuvwx") for i in range(3)],
        "doc_id long, text string",
    )


def _flood_images(spark):
    # one non-flat 8x8 patch and one pixel multiset, held by three images
    px = np.random.default_rng(0).integers(0, 256, (8, 8, 3), dtype=np.uint8)
    return spark.createDataFrame(
        [(f"i{k}", encode_ppm(px), "ppm") for k in range(3)],
        "image_id string, bytes binary, fmt string",
    )


def _flood_videos(spark):
    # one frame signature, held by three videos
    frames = np.random.default_rng(1).integers(0, 256, (1, 2, 2, 3), dtype=np.uint8)
    return spark.createDataFrame(
        [(f"v{k}", encode_rawv(frames), 2, 2, 1) for k in range(3)],
        "video_id string, bytes binary, w int, h int, n_frames int",
    )


FLOODED = {
    "containment_pairs": lambda s: containment_pairs(
        _flood_docs(s), "doc_id", "text", max_posting=2
    ),
    "signature_set_pairs": lambda s: video_near_duplicates(
        _flood_videos(s), every_n=1, max_posting=2
    ),
    "shared_patch_pairs": lambda s: shared_patch_pairs(
        _flood_images(s), max_posting=2
    ),
    "verified_rotation_pairs": lambda s: verified_rotation_pairs(
        _flood_images(s), max_bucket=2
    ),
    "char_substring_pairs": lambda s: char_substring_pairs(
        _flood_texts(s), "doc_id", "text", max_posting=2
    ),
}


@pytest.mark.parametrize("tier", list(FLOODED))
def test_capped_tier_logs_its_flooded_key(spark, caplog, tier):
    """No silent cap: a key held by 3 ids over a cap of 2 pairs nothing,
    and the one dropped key is logged under the tier's name."""
    with caplog.at_level(logging.WARNING, logger="dedup_spark.plans.lineage"):
        out = FLOODED[tier](spark)
    assert out.count() == 0
    logged = [r.getMessage() for r in caplog.records]
    assert any(m.startswith(f"{tier}: dropped 1 posting keys") for m in logged), logged


def test_capped_substring_index_reads_postings_once(spark):
    """The capped anchor index is `key_postings`' window: the action
    counts no posting list again, so its executed plan aggregates
    nothing keyed on the gram."""
    out = char_substring_pairs(_flood_texts(spark), "doc_id", "text", max_posting=2)
    assert out.collect() == []
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"HashAggregate\(keys=\[gram#", plan), plan
