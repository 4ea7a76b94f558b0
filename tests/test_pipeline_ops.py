"""Training-pipeline operators added in round 3: cross-doc boilerplate
removal, intra-doc repetition stats, PII scan/redaction, deterministic
global shuffle index."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from dedup_spark.functions import pii
from dedup_spark.functions.text import bigrams, dup_word_fraction
from dedup_spark.operators.boilerplate import boilerplate_stats
from dedup_spark.operators.ordering import global_shuffle_index

FOOTER = "all rights reserved inc"  # one 4-token boilerplate segment


def test_boilerplate_stats_marks_shared_segments(spark):
    rows = [
        # docs 1 and 2 share the 4-token footer as their 2nd segment;
        # doc 3 has no full shared segment; doc 4 is shorter than one
        # segment (0 windows, all tokens kept)
        (1, "alpha beta gamma delta " + FOOTER),
        (2, "epsilon zeta eta theta " + FOOTER),
        (3, "iota kappa lambda mu nu xi omicron pi"),
        (4, "rho sigma tau"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in boilerplate_stats(df, seg_tokens=4).collect()
    }
    assert out[1]["n_segments"] == 2 and out[1]["n_boilerplate"] == 1
    assert out[1]["kept_tokens"] == 8 - 4
    assert out[2]["n_boilerplate"] == 1
    assert out[3]["n_segments"] == 2 and out[3]["n_boilerplate"] == 0
    assert out[3]["kept_tokens"] == 8
    assert out[4]["n_segments"] == 0 and out[4]["kept_tokens"] == 3


def test_boilerplate_requires_distinct_docs(spark):
    # the same segment twice in ONE doc is repetition, not boilerplate
    df = spark.createDataFrame(
        [(1, FOOTER + " " + FOOTER), (2, "unrelated words go here")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in boilerplate_stats(df).collect()}
    assert out[1]["n_boilerplate"] == 0


def test_dup_word_fraction_and_bigrams(spark):
    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "w x y z"), (3, "")], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            dup_word_fraction(F.col("text")).alias("f"),
            bigrams(F.col("text")).alias("bg"),
        ).collect()
    }
    assert abs(out[1]["f"] - (1 - 2 / 5)) < 1e-12
    assert out[1]["bg"] == ["a b", "b a", "a b", "b a"]
    assert out[2]["f"] == 0.0
    assert out[3]["bg"] == []


def test_pii_counts_and_redact(spark):
    txt = (
        "mail bob.smith+x@corp.example.org or 10.0.0.1 then "
        "call +44-20-794600 end"
    )
    df = spark.createDataFrame([(txt,)], ["text"])
    c = pii.pii_counts(F.col("text"))
    row = df.select(
        c["emails"].alias("e"),
        c["ipv4"].alias("i"),
        c["phones"].alias("p"),
        pii.redact(F.col("text")).alias("r"),
    ).first()
    assert (row["e"], row["i"], row["p"]) == (1, 1, 1)
    assert row["r"] == "mail <PII> or <PII> then call <PII> end"


def test_pii_ipv4_word_boundary(spark):
    # \b blocks matches glued to alphanumerics; the documented RE2-
    # dialect over-match on longer dotted runs still counts (recall-
    # first — see functions/pii.py docstring)
    df = spark.createDataFrame(
        [("v10.2.3.4 w",), ("run 1.2.3.4.5 w",), ("ip 1.2.3.4 ok",)], ["text"]
    )
    out = df.select(
        pii.pii_counts(F.col("text"))["ipv4"].alias("n")
    ).collect()
    assert [r["n"] for r in out] == [0, 1, 1]


def test_global_shuffle_index_matches_serial_md5_order(spark):
    ids = list(range(200))
    df = spark.createDataFrame([(i,) for i in ids], ["doc_id"])
    got = {
        r["doc_id"]: (r["shuffle_key"], r["shuffle_pos"])
        for r in global_shuffle_index(df, seed="s1").collect()
    }
    want = sorted(
        ids, key=lambda i: (hashlib.md5(f"s1:{i}".encode()).hexdigest(), i)
    )
    assert sorted(p for _, p in got.values()) == list(range(len(ids)))
    for pos, i in enumerate(want):
        assert got[i][1] == pos
        assert got[i][0] == hashlib.md5(f"s1:{i}".encode()).hexdigest()


def test_global_shuffle_index_partition_invariant(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], ["doc_id"])
    a = global_shuffle_index(df.repartition(1), seed="s2").collect()
    b = global_shuffle_index(df.repartition(7), seed="s2").collect()
    assert {(r["doc_id"], r["shuffle_pos"]) for r in a} == {
        (r["doc_id"], r["shuffle_pos"]) for r in b
    }


def test_bucketed_scan_bucket_bytes_2_identical_and_skew(spark):
    """The 65,536-bucket path (bucket_bytes=2) that sequence_packing /
    deterministic_shuffle are documented to switch to for big windows:
    (a) shuffle_pos and the exclusive running total are IDENTICAL at
    bucket_bytes 1 vs 2 — the bucket width is an execution detail, not
    a semantics knob; (b) a skew corpus whose ids ALL land in md5
    bucket 0 at 1-byte width (so the 1-byte engine runs one fat window)
    still agrees with the 2-byte engine, which spreads the same rows
    over 256 sub-buckets and exercises the sparse-offsets path."""
    from dedup_spark.operators.ordering import global_running_total

    ids = list(range(400))
    rows = [(i, (i * 7) % 13 + 1) for i in ids]
    df = spark.createDataFrame(rows, ["doc_id", "toks"]).repartition(8)
    for op, col in [
        (lambda d, b: global_shuffle_index(d, seed="s3", bucket_bytes=b),
         "shuffle_pos"),
        (lambda d, b: global_running_total(
            d, "toks", seed="s3", bucket_bytes=b), "running_total"),
    ]:
        one = {r["doc_id"]: r[col] for r in op(df, 1).collect()}
        two = {r["doc_id"]: r[col] for r in op(df, 2).collect()}
        assert one == two

    # skew: brute-force ids whose md5("sk:"+id) starts with "00" — all
    # in bucket 0 at bucket_bytes=1, spread over sub-buckets at 2
    skew_ids, i = [], 0
    while len(skew_ids) < 64:
        if hashlib.md5(f"sk:{i}".encode()).hexdigest().startswith("00"):
            skew_ids.append(i)
        i += 1
    sdf = spark.createDataFrame([(j, 3) for j in skew_ids], ["doc_id", "toks"])
    a = {r["doc_id"]: (r["shuffle_pos"],)
         for r in global_shuffle_index(sdf, seed="sk", bucket_bytes=1).collect()}
    b = {r["doc_id"]: (r["shuffle_pos"],)
         for r in global_shuffle_index(sdf, seed="sk", bucket_bytes=2).collect()}
    assert a == b
    want = sorted(
        skew_ids, key=lambda j: (hashlib.md5(f"sk:{j}".encode()).hexdigest(), j)
    )
    for pos, j in enumerate(want):
        assert a[j][0] == pos


# --- dataset assembly (operators/assembly.py) ------------------------


def test_stratified_sample_deterministic_and_rate(spark):
    from dedup_spark.operators.assembly import (
        rate_threshold_hex,
        stratified_sample,
    )

    df = spark.createDataFrame(
        [(i, "keep" if i % 2 else "drop") for i in range(2000)],
        ["doc_id", "bucket"],
    )
    out = stratified_sample(
        df, "bucket", {"keep": 1.0, "drop": 0.0}, seed="t"
    ).collect()
    kept = {r["doc_id"] for r in out if r["sampled"]}
    assert kept == {i for i in range(2000) if i % 2}
    # ~50% rate lands near 50% (md5 uniformity; 2000 coins, +/-5%)
    half = stratified_sample(df, "bucket", {"keep": 0.5, "drop": 0.5}, seed="t")
    n = half.filter("sampled").count()
    assert 900 <= n <= 1100
    # rerun is bit-identical
    again = {
        r["doc_id"]
        for r in stratified_sample(
            df, "bucket", {"keep": 0.5, "drop": 0.5}, seed="t"
        ).collect()
        if r["sampled"]
    }
    assert again == {r["doc_id"] for r in half.filter("sampled").collect()}
    assert rate_threshold_hex(1.0) == "g"
    assert rate_threshold_hex(0.5) == "80000000"


def test_pack_sequences_matches_serial_packer(spark):
    import hashlib

    from dedup_spark.operators.assembly import pack_sequences

    rows = [(i, (i * 7) % 40) for i in range(300)]  # includes 0-token docs
    df = spark.createDataFrame(rows, ["doc_id", "toks"])
    got = {
        r["doc_id"]: (r["token_offset"], r["block_start"], r["block_end"], r["n_blocks"])
        for r in pack_sequences(df, "toks", budget=64, seed="p").collect()
    }
    order = sorted(rows, key=lambda r: (hashlib.md5(f"p:{r[0]}".encode()).hexdigest(), r[0]))
    off = 0
    for i, t in order:
        bs = off // 64
        be = (off + t - 1) // 64 if t > 0 else bs - 1
        nb = be - bs + 1 if t > 0 else 0
        assert got[i] == (off, bs, be, nb), i
        off += t


def test_source_mixing_weights_sum_to_one(spark):
    from pyspark.sql import functions as F2

    from dedup_spark.operators.assembly import source_mixing_weights

    df = spark.createDataFrame(
        [("a", 90), ("a", 10), ("b", 25), ("c", 1)], ["src", "n"]
    )
    out = {r["src"]: r for r in source_mixing_weights(df, "src", F2.col("n"), 0.5).collect()}
    assert out["a"]["tokens"] == 100
    tot = sum(r["mix_weight"] for r in out.values())
    assert abs(tot - 1.0) < 1e-5
    # alpha=0.5 upweights the small source vs its natural share
    assert out["c"]["mix_weight"] > out["c"]["share"]
    assert out["a"]["mix_weight"] < out["a"]["share"]


def test_contamination_flags_reference_semantics(spark):
    """Exactly the GPT-3-style rule: contaminated iff the doc shares a
    full 13-token run with any eval doc; counts are DISTINCT matched
    grams; short docs (< 13 tokens) and clean docs report 0/false."""
    from dedup_spark.operators.decontaminate import contamination_flags

    run = " ".join(f"t{i}" for i in range(13))       # the leaked run
    other = " ".join(f"u{i}" for i in range(20))
    rows = [
        (1, f"intro words {run} trailing stuff here"),  # leaked
        (2, other),                                      # clean
        (3, "only twelve tokens " + " ".join(f"v{i}" for i in range(8))),
        (4, run),                                        # exact eval text
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    eval_docs = spark.createDataFrame([(99, f"prefix {run} suffix")],
                                      ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_matched_grams"], r["contaminated"])
        for r in contamination_flags(docs, eval_docs, n=13).collect()
    }
    assert got[1] == (1, True)   # one shared 13-gram
    assert got[2] == (0, False)
    assert got[3] == (0, False)  # 12 tokens: no gram exists
    assert got[4] == (1, True)
    # a doc REPEATING the leaked run still counts DISTINCT grams
    rep = spark.createDataFrame([(5, f"{run} {run}")], ["doc_id", "text"])
    got5 = contamination_flags(rep, eval_docs, n=13).collect()[0]
    # "run run" contains sliding grams across the seam; only the two
    # aligned copies equal the eval gram, and they dedup to ONE
    assert got5["n_matched_grams"] == 1 and got5["contaminated"]


def test_linear_quality_scores_reference_dot(spark):
    """Score must equal the plain-Python sequential dot of the same
    rounded embedding and weights; keep flips exactly at 0."""
    from dedup_spark.operators.decontaminate import (
        linear_quality_scores,
        quality_head_weights,
    )

    w = quality_head_weights()
    assert len(w) == 64 and all(-0.5 <= x < 0.5 for x in w)
    # two synthetic unit vectors aligned with the most positive /
    # most negative weight coordinates
    import numpy as np

    hi, lo = int(np.argmax(w)), int(np.argmin(w))
    e_hi = [0.0] * 64
    e_hi[hi] = 1.0
    e_lo = [0.0] * 64
    e_lo[lo] = 1.0
    df = spark.createDataFrame(
        [(1, e_hi), (2, e_lo)], "vec_id long, embedding array<double>"
    )
    got = {
        r["vec_id"]: (r["score"], r["keep"])
        for r in linear_quality_scores(df, w).collect()
    }
    assert got[1] == (round(w[hi], 6), True)
    assert got[2] == (round(w[lo], 6), False)


def test_cascade_rollup_equals_direct(spark):
    """The combinability claim, unit-scale: a minute->hour->day cascade
    must equal direct day-grain aggregation of raw rows, including the
    active-finer-bucket count; misordered grains raise."""
    import datetime as dt

    import pytest as _pt

    from dedup_spark.operators.rollup import cascade_rollup

    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = []
    for i in range(200):
        rows.append(
            ("a" if i % 3 else "b",
             base + dt.timedelta(minutes=17 * i),
             float(i % 7) + 0.25)
        )
    df = spark.createDataFrame(rows, ["k", "ts", "value"])
    day = cascade_rollup(df, ts_col="ts", keys=["k"], value_col="value",
                         grains=["minute", "hour", "day"])
    got = {
        (r["k"], str(r["bucket"])): (r["n_events"], round(r["sum_value"], 6))
        for r in day.collect()
    }
    from collections import defaultdict

    direct = defaultdict(lambda: [0, 0.0])
    for k, ts, v in rows:
        key = (k, str(ts.replace(hour=0, minute=0, second=0)))
        direct[key][0] += 1
        direct[key][1] += v
    assert got == {k: (n, round(s, 6)) for k, (n, s) in direct.items()}
    with _pt.raises(ValueError):
        cascade_rollup(df, grains=["day", "hour"])


def test_cascade_rollup_single_grain_schema(spark):
    """A single-grain call keeps the documented 5-column schema:
    n_finer_buckets exists at every grain count and equals
    count(distinct ts) within the bucket (the next-finer unit of a
    finest-level bucket is the raw event timestamp)."""
    import datetime as dt

    from dedup_spark.operators.rollup import cascade_rollup

    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = [
        ("a", base + dt.timedelta(minutes=m), 1.0)
        for m in (0, 0, 5, 61)  # two rows share a timestamp
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "value"])
    out = {
        str(r["bucket"]): (r["n_events"], r["n_finer_buckets"])
        for r in cascade_rollup(
            df, ts_col="ts", keys=["k"], value_col="value", grains=["hour"]
        ).collect()
    }
    assert out[str(base)] == (3, 2)  # 3 events, 2 distinct timestamps
    assert out[str(base.replace(hour=1))] == (1, 1)
