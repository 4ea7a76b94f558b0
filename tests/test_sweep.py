"""pHash threshold-sweep eval tests — __spark_entry__.q_phash_threshold_sweep."""

from __future__ import annotations

from itertools import combinations


def test_sweep_matches_bruteforce_python(spark):
    import __spark_entry__ as e
    from dedup_spark.fixtures.materialize import fixture_parquet
    import pyarrow.parquet as pq

    got = {
        r["hamming_d"]: r
        for r in e.q_phash_threshold_sweep(spark, "unused").collect()
    }
    assert sorted(got) == list(range(9))

    imgs = pq.read_table(
        fixture_parquet("images"), columns=["image_id", "phash"]
    ).to_pylist()
    truth = {
        r["image_id"]: r["cluster_id"]
        for r in pq.read_table(fixture_parquet("truth")).to_pylist()
    }
    hist = {d: [0, 0] for d in range(9)}
    for a, b in combinations(imgs, 2):
        d = bin((a["phash"] ^ b["phash"]) & ((1 << 64) - 1)).count("1")
        if d <= 8:
            hist[d][0] += 1
            hist[d][1] += truth[a["image_id"]] == truth[b["image_id"]]
    from collections import Counter
    sizes = Counter(truth.values())
    total_true = sum(n * (n - 1) // 2 for n in sizes.values())
    cp = ct = 0
    for d in range(9):
        cp += hist[d][0]
        ct += hist[d][1]
        row = got[d]
        assert row["n_pairs"] == hist[d][0], d
        assert row["n_true"] == hist[d][1], d
        assert row["cum_pairs"] == cp and row["cum_true"] == ct, d
        assert row["precision"] == round(ct / cp, 6), d
        assert row["recall"] == round(ct / total_true, 6), d
    # pinned curve shape: byte-dup + caption-norm classes at d=0, the
    # near-dup image perturbations land by d=2 (full recall — radius 3
    # has headroom), and no false pair enters the ball through d=8
    assert got[0]["n_pairs"] > 0 and got[0]["recall"] < 1.0
    assert got[2]["recall"] == 1.0 and got[8]["recall"] == 1.0
    assert all(got[d]["precision"] == 1.0 for d in range(9))
