"""Direct unit tests for the shared star-guarded pair generator —
the one skew-kill primitive all four LSH-family tiers ride on."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from dedup_spark.operators.banding import star_guarded_pairs


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
