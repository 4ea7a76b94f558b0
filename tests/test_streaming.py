"""Structured-streaming incremental dedup tests: cross-batch cluster
stability, idempotent replay, windowed monitoring aggregate."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from dedup_spark.fixtures.images import IMAGES_SCHEMA, encode_ppm, phash64
from dedup_spark.streaming.incremental import (
    dedup_within_watermark,
    process_batch,
    replay_ordered_files,
    start_incremental_dedup,
    windowed_dup_rate,
)


def _row(image_id, pixels, caption="c"):
    h, w, _ = pixels.shape
    return {
        "image_id": image_id, "bytes": encode_ppm(pixels),
        "w": w, "h": h, "fmt": "ppm", "caption": caption,
        "phash": int(phash64(pixels)),
    }


def _px(seed):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)


def _mkdf(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows), schema=IMAGES_SCHEMA)


def test_incremental_stream_clusters_across_batches(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    px1, px2 = _px(1), _px(2)
    # batch 1: a1 + unique b1
    _mkdf(spark, [_row("a1", px1), _row("b1", px2)]).write.mode("append").parquet(in_dir)
    q = start_incremental_dedup(spark, in_dir, IMAGES_SCHEMA, state, out, ckpt)
    q.awaitTermination(120)

    # batch 2 (new file): a2 duplicates batch-1's a1 content
    _mkdf(spark, [_row("a2", px1), _row("c1", _px(3))]).write.mode("append").parquet(in_dir)
    q = start_incremental_dedup(spark, in_dir, IMAGES_SCHEMA, state, out, ckpt)
    q.awaitTermination(120)

    got = {r["image_id"]: r["cluster_id"] for r in spark.read.parquet(out).collect()}
    assert got["a1"] == got["a2"] == "a1"  # cross-batch cluster stability
    assert got["b1"] == "b1" and got["c1"] == "c1"
    assert len(got) == 4


def test_replayed_batch_is_idempotent(spark, tmp_path):
    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    batch = _mkdf(spark, [_row("x1", _px(5)), _row("x2", _px(5))])
    process_batch(spark, batch, state, out)
    first = sorted(
        (r["image_id"], r["cluster_id"]) for r in spark.read.parquet(out).collect()
    )
    process_batch(spark, batch, state, out)  # crash-replay of same batch
    second = sorted(
        (r["image_id"], r["cluster_id"]) for r in spark.read.parquet(out).collect()
    )
    assert first == second == [("x1", "x1"), ("x2", "x1")]
    # state holds exactly one row for the shared content
    assert spark.read.parquet(state).count() == 1


def test_bucketed_state_join_is_shuffle_free_on_state_side(spark, tmp_path):
    """Bucketed state store: (1) 3-batch replay through the bucketed
    path produces the same assignments as the parquet-dir path; (2) the
    per-batch state join's plan has NO Exchange feeding the state scan —
    only the micro-batch side shuffles (the state is the unbounded
    side; never re-shuffling it is the scale contract)."""
    from pyspark.sql import functions as F

    state_tbl = "inc_state_bkt_t"
    out = str(tmp_path / "outb")
    spark.sql(f"DROP TABLE IF EXISTS {state_tbl}")
    rows = [
        [_row("a1", _px(1)), _row("b1", _px(2))],
        [_row("a2", _px(1)), _row("c1", _px(3))],
        [_row("c2", _px(3)), _row("d1", _px(4))],
    ]
    for batch_rows in rows:
        process_batch(
            spark, _mkdf(spark, batch_rows), "", out,
            state_table=state_tbl, n_buckets=4,
        )
    got = {r["image_id"]: r["cluster_id"] for r in spark.read.parquet(out).collect()}
    assert got == {
        "a1": "a1", "a2": "a1", "b1": "b1", "c1": "c1", "c2": "c1", "d1": "d1",
    }
    # state: one row per distinct content
    assert spark.table(state_tbl).count() == 4

    # plan proof: probe the state join process_batch builds (its batch
    # side also carries the first-seen window, whose Exchange stays on
    # the micro-batch side)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        probe = _mkdf(spark, [_row("z1", _px(9))])
        from dedup_spark.streaming.incremental import _batch_hashes

        hashes = _batch_hashes(probe, "image_id", "bytes")
        joined = hashes.join(spark.table(state_tbl), on=["len", "fsha"], how="left")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        # exactly ONE Exchange: the batch side; the bucketed state scan
        # feeds the join directly
        assert plan.count("Exchange") == 1
        # and the state scan reports its bucketing (the reason the
        # second Exchange is absent)
        assert "Bucketed: true" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS {state_tbl}")


def test_dedup_within_watermark_bounded_state_semantics(spark, tmp_path):
    """The native stateful dedup's full contract, batch by batch:
    (1) a duplicate key within the same micro-batch is dropped;
    (2) a re-arrival in a LATER batch while the original is still
        within the 1-day horizon is dropped;
    (3) a re-arrival AFTER the watermark evicted the original's state
        is re-emitted — bounded state is the explicit trade (the
        downstream idempotent MERGE absorbs these stragglers), which
        is what keeps state O(keys per horizon) on an unbounded
        stream instead of O(all keys ever)."""
    schema = "k string, ts timestamp"
    in_dir = str(tmp_path / "win")
    import os

    os.makedirs(in_dir)
    files = [
        # batch 0: A twice (same-batch dup) + B
        [("A", "2026-01-01 00:00:00"), ("B", "2026-01-01 01:00:00"),
         ("A", "2026-01-01 00:00:00")],
        # batch 1: A again 12h later (state alive: horizon 1 day) + C,
        # whose ts advances the watermark to 01-09
        [("A", "2026-01-01 12:00:00"), ("C", "2026-01-10 00:00:00")],
        # batch 2: eviction is committed lazily (a same-batch lookup
        # still sees expired-but-unremoved state), so an unrelated
        # batch runs under the 01-09 watermark to flush A and B out
        [("D", "2026-01-10 02:00:00")],
        # batch 3: A re-arrives after eviction -> re-emitted
        [("A", "2026-01-10 03:00:00")],
    ]
    for i, rows in enumerate(files):
        pdf = pd.DataFrame({"k": [r[0] for r in rows],
                            "ts": pd.to_datetime([r[1] for r in rows])})
        raw = str(tmp_path / f"raw{i}")
        spark.createDataFrame(pdf, schema=schema).coalesce(1).write.parquet(raw)
        part = next(f for f in os.listdir(raw)
                    if f.endswith(".parquet") and not f.startswith("."))
        dst = f"{in_dir}/b{i}.parquet"
        os.rename(os.path.join(raw, part), dst)
        os.utime(dst, (1700000000 + 100 * i, 1700000000 + 100 * i))

    out, ckpt = str(tmp_path / "wout"), str(tmp_path / "wckpt")
    replay_ordered_files(
        spark, [(in_dir, schema)],
        lambda s: dedup_within_watermark(s, ["k"], "ts", "1 day"),
        out, ckpt,
    )
    got = sorted(
        (r["k"], str(r["ts"])) for r in spark.read.parquet(out).collect()
    )
    assert got == [
        ("A", "2026-01-01 00:00:00"),  # first arrival
        ("A", "2026-01-10 03:00:00"),  # re-emitted after state eviction
        ("B", "2026-01-01 01:00:00"),
        ("C", "2026-01-10 00:00:00"),
        ("D", "2026-01-10 02:00:00"),
    ]


def test_sessionize_stateful_gap_sessions(spark, tmp_path):
    """applyInPandasWithState sessionization, full contract over 4
    ordered micro-batches (gap 2h, watermark delay 1h):
    - user 10's burst straddles batches 0-1 (state carries the open
      session across the boundary and merges the continuation);
    - user 10's second burst is > gap away inside batch 1 (the open
      session closes IN-batch and emits immediately);
    - user 20 is a singleton;
    - the trailing sentinel batches advance the watermark past every
      last_event + gap so event-time timeouts flush the open sessions
      (the sentinel user's own still-open session never emits)."""
    import os

    from dedup_spark.streaming.sessionize import sessionize

    schema = "user_id bigint, ts timestamp"
    in_dir = str(tmp_path / "sess_in")
    os.makedirs(in_dir)
    files = [
        # batch 0: user 10 burst starts; user 20 singleton
        [(10, "2026-01-01 00:00:00"), (10, "2026-01-01 01:00:00"),
         (20, "2026-01-01 00:30:00")],
        # batch 1: user 10 continues within gap (02:30 - 01:00 < 2h),
        # then returns > gap later the same day (new session, and the
        # first one closes in-batch)
        [(10, "2026-01-01 02:30:00"), (10, "2026-01-01 09:00:00")],
        # sentinel batches: advance the watermark far past every
        # timeout (eviction/timeout firing lags one batch)
        [(-1, "2026-01-02 00:00:00")],
        [(-1, "2026-01-02 01:00:00")],
    ]
    for i, rows in enumerate(files):
        pdf = pd.DataFrame({"user_id": [r[0] for r in rows],
                            "ts": pd.to_datetime([r[1] for r in rows])})
        raw = str(tmp_path / f"sraw{i}")
        spark.createDataFrame(pdf, schema=schema).coalesce(1).write.parquet(raw)
        part = next(f for f in os.listdir(raw)
                    if f.endswith(".parquet") and not f.startswith("."))
        dst = f"{in_dir}/b{i}.parquet"
        os.rename(os.path.join(raw, part), dst)
        os.utime(dst, (1700000000 + 100 * i, 1700000000 + 100 * i))

    out, ckpt = str(tmp_path / "sess_out"), str(tmp_path / "sess_ckpt")
    replay_ordered_files(
        spark, [(in_dir, schema)],
        lambda s: sessionize(s, gap="2 hours", delay="1 hour"),
        out, ckpt,
    )

    def us(t):
        return int(pd.Timestamp(t).value // 1_000)

    got = sorted(
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in spark.read.parquet(out).collect()
    )
    assert got == [
        (10, us("2026-01-01 00:00:00"), us("2026-01-01 02:30:00"), 3),
        (10, us("2026-01-01 09:00:00"), us("2026-01-01 09:00:00"), 1),
        (20, us("2026-01-01 00:30:00"), us("2026-01-01 00:30:00"), 1),
    ]


def test_sessionize_out_of_order_within_watermark(spark, tmp_path):
    """Cross-batch merge with OUT-OF-ORDER arrivals (allowed within the
    watermark): a later batch may deliver events EARLIER than the open
    session's current end. The merge must be interval min/max — the
    session end must never regress (which would fire a premature
    timeout and split the session) — and a late event may BRIDGE the
    open session to a following island, chaining the merge.

    gap 2h, watermark 10h (so the late rows are not watermark-dropped):
    - user 10: batch 0 at 00:00 + 01:00 (open end = 01:00); batch 1
      delivers only 00:30 — earlier than the open end. One session
      (00:00, 01:00, 3), NOT a regressed/split pair.
    - user 30: batch 0 at 00:00 + 05:00 (the 00:00 singleton closes
      in-batch; open = 05:00); batch 1 delivers 03:30 and 06:30 —
      two batch islands (3h apart > gap) that BOTH merge through the
      open 05:00 interval → one session (03:30, 06:30, 3)."""
    import os

    from dedup_spark.streaming.sessionize import sessionize

    schema = "user_id bigint, ts timestamp"
    in_dir = str(tmp_path / "ooo_in")
    os.makedirs(in_dir)
    files = [
        [(10, "2026-01-01 00:00:00"), (10, "2026-01-01 01:00:00"),
         (30, "2026-01-01 00:00:00"), (30, "2026-01-01 05:00:00")],
        # out-of-order continuations, all within the 10h watermark
        [(10, "2026-01-01 00:30:00"),
         (30, "2026-01-01 03:30:00"), (30, "2026-01-01 06:30:00")],
        # sentinels: watermark (max_ts - 10h) must pass every
        # last_event + gap (≤ 01-01 08:30)
        [(-1, "2026-01-02 00:00:00")],
        [(-1, "2026-01-02 01:00:00")],
    ]
    for i, rows in enumerate(files):
        pdf = pd.DataFrame({"user_id": [r[0] for r in rows],
                            "ts": pd.to_datetime([r[1] for r in rows])})
        raw = str(tmp_path / f"oraw{i}")
        spark.createDataFrame(pdf, schema=schema).coalesce(1).write.parquet(raw)
        part = next(f for f in os.listdir(raw)
                    if f.endswith(".parquet") and not f.startswith("."))
        dst = f"{in_dir}/b{i}.parquet"
        os.rename(os.path.join(raw, part), dst)
        os.utime(dst, (1700000000 + 100 * i, 1700000000 + 100 * i))

    out, ckpt = str(tmp_path / "ooo_out"), str(tmp_path / "ooo_ckpt")
    replay_ordered_files(
        spark, [(in_dir, schema)],
        lambda s: sessionize(s, gap="2 hours", delay="10 hours"),
        out, ckpt,
    )

    def us(t):
        return int(pd.Timestamp(t).value // 1_000)

    got = sorted(
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in spark.read.parquet(out).collect()
    )
    assert got == [
        (10, us("2026-01-01 00:00:00"), us("2026-01-01 01:00:00"), 3),
        (30, us("2026-01-01 00:00:00"), us("2026-01-01 00:00:00"), 1),
        (30, us("2026-01-01 03:30:00"), us("2026-01-01 06:30:00"), 3),
    ]


def test_fuzzy_incremental_dedup_with_cluster_merge(spark, tmp_path):
    """Streaming NEAR-dup tier (streaming/fuzzy.py), the hard case:
    doc 3 arrives in batch B and bridges docs 1 and 2 (which were
    separate clusters after batch A because j(1,2) < 0.9 while
    j(1,3), j(2,3) >= 0.9) — the two existing clusters must MERGE via
    the alias forest, and the resolved assignment must equal the
    batch CC result (everyone -> min id 1). Also: a within-batch
    identical pair clusters immediately, a singleton self-clusters,
    and replaying a batch is a no-op."""
    from dedup_spark.config import DedupConfig
    from dedup_spark.streaming.fuzzy import (
        fuzzy_process_batch,
        resolve_assignments,
    )

    toks = [f"w{i}" for i in range(100)]
    base = toks[:]                     # doc 3
    d1 = toks[:-4] + ["x96", "x97", "x98", "x99"]   # tail changed
    d2 = ["y0", "y1", "y2", "y3"] + toks[4:]        # head changed
    batches = [
        [(1, " ".join(d1)), (2, " ".join(d2)),
         (4, "completely unrelated tiny text")],
        [(3, " ".join(base)),
         (5, "twin text alpha beta gamma delta"),
         (6, "twin text alpha beta gamma delta")],
    ]
    cfg = DedupConfig(jaccard_threshold=0.9)
    state, out = str(tmp_path / "fz_state"), str(tmp_path / "fz_out")
    for rows in batches:
        b = spark.createDataFrame(rows, "doc_id long, text string")
        fuzzy_process_batch(spark, b, state, out, cfg=cfg)

    got = {
        r["doc_id"]: r["cluster_id"]
        for r in resolve_assignments(spark, out, f"{state}/alias").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5}

    # crash-replay of the last batch converges (idempotent appends)
    b = spark.createDataFrame(batches[1], "doc_id long, text string")
    fuzzy_process_batch(spark, b, state, out, cfg=cfg)
    again = {
        r["doc_id"]: r["cluster_id"]
        for r in resolve_assignments(spark, out, f"{state}/alias").collect()
    }
    assert again == got
    # state holds each doc exactly once
    assert spark.read.parquet(f"{state}/docs").count() == 6


def test_fuzzy_verify_shingles_only_candidate_endpoints(
    spark, tmp_path, monkeypatch
):
    """The streaming verify runs against all history, so the batch
    prunes its corpus to the candidate endpoints before calling
    ``jaccard_verify`` (which shingles every row it is given). Batch 2
    holds one near-dup of a batch-1 doc and one unrelated doc; the
    verify input must be exactly the candidate endpoints, never the
    batch-1 history."""
    from dedup_spark.config import DedupConfig
    from dedup_spark.streaming import fuzzy

    seen = []

    def spy(df, pairs, *args, **kwargs):
        seen.append(
            (
                {r["doc_id"] for r in df.select("doc_id").collect()},
                {v for r in pairs.collect() for v in (r["id1"], r["id2"])},
            )
        )
        return real(df, pairs, *args, **kwargs)

    real = fuzzy.jaccard_verify
    monkeypatch.setattr(fuzzy, "jaccard_verify", spy)
    toks = [f"w{i}" for i in range(60)]
    history = [(i, " ".join(f"h{i}_{j}" for j in range(40))) for i in range(1, 9)]
    batches = [
        [(0, " ".join(toks))] + history,
        [(20, " ".join(toks[:-1] + ["x"])),  # near-dup of doc 0
         (21, "an unrelated document with words of its own")],
    ]
    cfg = DedupConfig(jaccard_threshold=0.9)
    state, out = str(tmp_path / "st"), str(tmp_path / "out")
    for rows in batches:
        fuzzy.fuzzy_process_batch(
            spark,
            spark.createDataFrame(rows, "doc_id long, text string"),
            state, out, cfg=cfg,
        )
    verified, endpoints = seen[-1]
    assert endpoints == {0, 20}
    assert verified == endpoints
    got = {r["doc_id"]: r["cluster_id"] for r in spark.read.parquet(out).collect()}
    assert got[20] == 0 and got[21] == 21


def test_resolve_assignments_deep_alias_forest(spark, tmp_path):
    """A multi-level alias forest (9 -> 7 -> 4 -> 2 -> 0, 8 -> 3, plus a
    replayed duplicate alias) resolves every assignment to its tree's
    root; ids outside the forest keep their cluster."""
    from dedup_spark.streaming.fuzzy import resolve_assignments

    out, alias = str(tmp_path / "assign"), str(tmp_path / "alias")
    spark.createDataFrame(
        [(10, 9), (11, 7), (12, 4), (13, 8), (14, 3), (15, 15), (16, 0)],
        "doc_id long, cluster_id long",
    ).write.parquet(out)
    spark.createDataFrame(
        [(9, 7), (7, 4), (4, 2), (2, 0), (8, 3), (2, 0)],
        "child long, parent long",
    ).write.parquet(alias)
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in resolve_assignments(spark, out, alias).collect()
    }
    assert got == {10: 0, 11: 0, 12: 0, 13: 3, 14: 3, 15: 15, 16: 0}


def test_fuzzy_bucketed_band_state_and_compaction(spark, tmp_path):
    """(1) The bucketed band-state path (bands_table=...) reproduces the
    parquet-dir result on the cluster-merge scenario; (2) the plan of
    the new↔history candidate join has exactly ONE Exchange — the
    micro-batch side — while the band state (the O(corpus x bands)
    side) scans bucketed, shuffle-free; (3) compact_aliases folds the
    merge forest into the assignment table (same resolved labels, empty
    forest) and ingestion keeps working after compaction."""
    from pyspark.sql import functions as F

    from dedup_spark.config import DedupConfig
    from dedup_spark.streaming.fuzzy import (
        compact_aliases,
        fuzzy_process_batch,
        resolve_assignments,
    )

    toks = [f"w{i}" for i in range(100)]
    d1 = toks[:-4] + ["x96", "x97", "x98", "x99"]
    d2 = ["y0", "y1", "y2", "y3"] + toks[4:]
    cfg = DedupConfig(jaccard_threshold=0.9)
    tbl = "fz_bands_bkt_t"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    state, out = str(tmp_path / "st"), str(tmp_path / "out")
    for rows in [
        [(1, " ".join(d1)), (2, " ".join(d2))],
        [(3, " ".join(toks))],  # bridges 1 and 2 -> merge
    ]:
        fuzzy_process_batch(
            spark,
            spark.createDataFrame(rows, "doc_id long, text string"),
            state, out, cfg=cfg, bands_table=tbl, n_buckets=4,
        )
    alias_dir = f"{state}/alias"
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in resolve_assignments(spark, out, alias_dir).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1}

    # plan proof: the exact candidate-join shape fuzzy_process_batch
    # builds — bucketed state side must not exchange
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        probe = spark.createDataFrame(
            [(9, " ".join(toks[:50]))], "doc_id long, text string"
        )
        from dedup_spark.operators.minhash import minhash_signature_udf

        sig = minhash_signature_udf(cfg)
        banded_new = probe.select(
            "doc_id", sig(F.col("text")).alias("_bands")
        ).select(
            "doc_id", F.posexplode("_bands").alias("band_idx", "band_hash")
        )
        joined = banded_new.join(
            spark.table(tbl), on=["band_idx", "band_hash"], how="inner"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert plan.count("Exchange") == 1
        assert "Bucketed: true" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    # compaction: fold the 2->1 alias, same resolved labels, empty forest
    assert compact_aliases(spark, out, alias_dir) == 1
    assert spark.read.parquet(alias_dir).count() == 0
    after = {
        r["doc_id"]: r["cluster_id"]
        for r in resolve_assignments(spark, out, alias_dir).collect()
    }
    assert after == got
    assert compact_aliases(spark, out, alias_dir) == 0  # idempotent

    # ingestion continues post-compaction: doc 0 duplicates doc 3's
    # text with a smaller id -> a NEW merge aliases cluster 1 -> 0
    fuzzy_process_batch(
        spark,
        spark.createDataFrame(
            [(0, " ".join(toks))], "doc_id long, text string"
        ),
        state, out, cfg=cfg, bands_table=tbl, n_buckets=4,
    )
    final = {
        r["doc_id"]: r["cluster_id"]
        for r in resolve_assignments(spark, out, alias_dir).collect()
    }
    assert final == {0: 0, 1: 0, 2: 0, 3: 0}
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_windowed_dup_rate_plan_is_streaming_safe(spark, tmp_path):
    """The watermarked window agg must be an allowed streaming plan:
    start it on a file stream and drain one batch."""
    in_dir = str(tmp_path / "sin")
    schema = "ts timestamp, image_id string, bytes binary"
    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime(["2026-01-01 00:00:01", "2026-01-01 00:00:02"]),
            "image_id": ["a", "b"],
            "bytes": [b"same", b"same"],
        }
    )
    spark.createDataFrame(pdf, schema=schema).write.parquet(in_dir)
    stream = spark.readStream.schema(schema).format("parquet").load(in_dir)
    agg = windowed_dup_rate(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("dup_rate_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode emits only closed windows; the plan executing at all
    # (no AnalysisException) is the contract here
    assert spark.table("dup_rate_t").columns == ["window", "rows", "distinct_contents"]


def test_stream_interval_join_cross_batch_and_late_eviction(spark, tmp_path):
    """Stream-stream interval join contract, batch by batch:
    (1) an in-batch (click, purchase) pair within the window matches;
    (2) a purchase arriving in a LATER batch matches a click still
        buffered in state (the cross-batch carry);
    (3) a LATE purchase — event time in-window, but arriving after the
        watermark has passed the click's eviction bound — is DROPPED:
        bounded state is the explicit trade on an unbounded stream."""
    import os

    from dedup_spark.streaming.incremental import stream_interval_join

    cs = "click_id long, c_user long, c_ts timestamp"
    ps = "purchase_id long, p_user long, p_ts timestamp"

    def stage(name, batches, schema):
        in_dir = str(tmp_path / name)
        os.makedirs(in_dir)
        for i, rows in enumerate(batches):
            raw = str(tmp_path / f"{name}_raw{i}")
            spark.createDataFrame(rows, schema).coalesce(1).write.parquet(raw)
            part = next(f for f in os.listdir(raw)
                        if f.endswith(".parquet") and not f.startswith("."))
            dst = f"{in_dir}/b{i}.parquet"
            os.rename(os.path.join(raw, part), dst)
            os.utime(dst, (1700000000 + 100 * i,) * 2)
        return in_dir

    import datetime as dt

    t0 = dt.datetime(2026, 1, 1)

    def ts(h):
        return t0 + dt.timedelta(hours=h)

    clicks = stage("cl", [
        [(1, 7, ts(0))],                       # batch 0
        [(2, 8, ts(200))],                     # batch 1: advances watermark
        [(3, 9, ts(400))],                     # batch 2: flush (lazy evict)
        [(4, 10, ts(600))],                    # batch 3
    ], cs)
    # the GLOBAL watermark is the min across both streams (advance
    # both), and eviction commits lazily at batch END — so the late
    # row arrives two advancing batches after its window closed
    purchases = stage("pu", [
        [(10, 7, ts(0.5))],                    # in-batch match with click 1
        [(11, 7, ts(0.9)), (20, 8, ts(200.5))],  # cross-batch match + advance
        [(21, 9, ts(400.5))],                  # flush/advance
        [(12, 7, ts(0.95)), (22, 10, ts(600.5))],  # LATE row + advance
    ], ps)

    out, ckpt = str(tmp_path / "sjout"), str(tmp_path / "sjckpt")
    replay_ordered_files(
        spark, [(clicks, cs), (purchases, ps)],
        lambda lc, rp: stream_interval_join(
            lc, rp, "c_user", "p_user", "c_ts", "p_ts",
            upper_s=3600, watermark="1 hour",
        ).select("click_id", "purchase_id"),
        out, ckpt,
    )
    got = sorted(
        (r.click_id, r.purchase_id)
        for r in spark.read.parquet(out).collect()
    )
    assert (1, 10) in got          # in-batch
    assert (1, 11) in got          # carried across the batch boundary
    assert (1, 12) not in got      # late arrival: state already evicted
    assert got == [(1, 10), (1, 11), (2, 20), (3, 21), (4, 22)]


# --- stream-static enrichment (the stateless 7th pattern) ---


def test_stream_static_enrich_equals_batch_left_join(spark, tmp_path):
    import os
    from pyspark.sql import functions as F

    from dedup_spark.streaming.incremental import (
        replay_ordered_files,
        stream_static_enrich,
    )

    events = spark.createDataFrame(
        [(i, i % 6, f"e{i}") for i in range(30)],
        "event_id long, user_id long, event_type string",
    )
    dim = spark.createDataFrame(
        [(u, f"name{u}") for u in range(6) if u % 3 != 2],
        "c_custkey long, c_name string",
    )
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    for k in range(3):
        sl = events.filter(F.col("event_id") % 3 == k)
        tmp = str(tmp_path / f"raw{k}")
        sl.coalesce(1).write.parquet(tmp)
        part = next(
            f for f in os.listdir(tmp)
            if f.endswith(".parquet") and not f.startswith(".")
        )
        dst = f"{in_dir}/b{k}.parquet"
        os.rename(os.path.join(tmp, part), dst)
        os.utime(dst, (1700000000 + 100 * k,) * 2)

    replay_ordered_files(
        spark, [(in_dir, events.schema)],
        lambda s: stream_static_enrich(s, dim, "user_id", "c_custkey")
        .select("event_id", "user_id", "c_name"),
        str(tmp_path / "out"), str(tmp_path / "ckpt"),
    )
    got = {
        r["event_id"]: (r["user_id"], r["c_name"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    want = {
        r["event_id"]: (r["user_id"], r["c_name"])
        for r in stream_static_enrich(events, dim, "user_id", "c_custkey")
        .select("event_id", "user_id", "c_name")
        .collect()
    }
    assert got == want and len(got) == 30
    # unmatched users (2, 5) survive with null enrichment
    assert any(v[1] is None for v in got.values())
