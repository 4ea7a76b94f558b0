"""Physical-plan invariants of the driver queries and the key operators:
the stage-1 key aggregate never reads ``bytes``, scan filters push down,
candidate-key joins broadcast, hash stages are whole-stage-codegen'd,
Python stages are Arrow-batched, and no Exchange carries the payload.

Each case greps ``explain('formatted')`` plus the simple plan (the
``*(n)`` codegen markers only appear there) for its named CHECKS, with
AQE off: an adaptive plan prints ``isFinalPlan=false`` without codegen
markers until it runs, while the static plan shows the same pruning,
broadcast and codegen properties. A failing case prints its plan."""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout

import pandas as pd
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, ".")

import __spark_entry__ as entrymod
from dedup_spark.config import DedupConfig
from dedup_spark.fixtures.materialize import (
    fixture_audio_parquet,
    fixture_avi_parquet,
    fixture_images_parquet,
    fixture_videos_parquet,
)
from dedup_spark.functions.unicode import nfc_normalize_udf
from dedup_spark.multimodal.audio import (
    audio_fingerprint_clusters,
    audio_fingerprints,
)
from dedup_spark.multimodal.avi import avi_frame_signatures
from dedup_spark.multimodal.video import frame_signatures, video_near_duplicates
from dedup_spark.operators.bpe import word_frequencies
from dedup_spark.operators.cdc import chunk_records
from dedup_spark.operators.exact import exact_duplicate_clusters, size_candidates
from dedup_spark.operators.linededup import split_token_lines
from dedup_spark.operators.minhash import minhash_signature_udf
from dedup_spark.operators.simhash import phash_near_duplicates
from dedup_spark.operators.suffixarray import _dense_ranks, word_positions
from dedup_spark.streaming.incremental import _batch_hashes

SF = "/root/testdata/sf0.01"


def _read_schema(plan: str) -> str:
    return " ".join(re.findall(r"ReadSchema: struct<([^>]*)>", plan))


def _attr_in_exchange(plan: str, attr: str) -> bool:
    """True iff some Exchange actually SHIPS `attr`. Prefer the
    formatted node blocks ("(7) Exchange" + its own "Input [...]"
    line) — exact; fall back to the crude Exchange-plus-3-lines window
    only when the formatted section has no Exchange node (e.g. a
    simple-mode-only plan)."""
    blocks = re.findall(r"^\(\d+\) Exchange[^\n]*\nInput[^\n]*", plan, re.M)
    if blocks:
        return any(attr in b for b in blocks)
    return any(
        attr in m.group(0)
        for m in re.finditer(r"Exchange [^\n]*\n(?:.*\n){0,3}", plan)
    )


def _windows_partitioned_by_bucket(plan: str) -> bool:
    # a global-order window would shuffle everything into one partition;
    # a plan with zero windows fails too (no vacuous pass)
    specs = re.findall(r"windowspecdefinition\(([^,)]*)", plan)
    return bool(specs) and all(s.strip().startswith("_bkt") for s in specs)


def _n_exchanges(plan: str) -> int:
    # numbered nodes of the FORMATTED plan only (the simple plan that
    # follows it would double-count)
    return len(re.findall(r"^\(\d+\) Exchange", plan, re.M))


CHECKS = {
    "scan_pruned_to_metadata": lambda p: "bytes" not in _read_schema(p),
    "has_pushed_filters": lambda p: "PushedFilters: [" in p
    and "PushedFilters: []" not in p,
    "broadcast_join": lambda p: "BroadcastHashJoin" in p or "BroadcastExchange" in p,
    "wholestage_codegen": lambda p: "WholeStageCodegen" in p or "*(" in p,
    "no_payload_in_exchange": lambda p: not _attr_in_exchange(p, "bytes#"),
    # distributed python stages (Arrow-vectorized), not driver collects
    "map_in_pandas": lambda p: "MapInPandas" in p,
    "grouped_pandas": lambda p: "FlatMapGroupsInPandas" in p,
    "no_python_udf": lambda p: "ArrowEvalPython" not in p
    and "BatchEvalPython" not in p,
    # scalar pandas_udf stages must be Arrow-batched, never
    # row-at-a-time pickled python
    "arrow_vectorized": lambda p: "ArrowEvalPython" in p
    and "BatchEvalPython" not in p,
    # bucketed-state join: exactly one Exchange (the micro-batch side);
    # the unbounded state side scans its buckets shuffle-free
    "single_exchange": lambda p: _n_exchanges(p) == 1,
    "bucketed_scan": lambda p: "Bucketed: true" in p,
    # distinct-count tiers must use two combinable aggregations, never
    # a countDistinct Expand (which multiplies shuffle rows by the
    # number of distinct-agg columns)
    "no_expand": lambda p: not re.search(r"^\(\d+\) Expand", p, re.M),
    # rank-filtered windows must run as WindowGroupLimit (per-partition
    # partial top-k BEFORE the shuffle), not a full per-partition sort
    "window_group_limit": lambda p: "WindowGroupLimit" in p,
    # top-k selection must run as TakeOrderedAndProject (per-partition
    # heaps merged on the driver), never a global Sort
    "take_ordered": lambda p: "TakeOrderedAndProject" in p,
    # pure per-row projections must not shuffle at all
    "no_exchange": lambda p: _n_exchanges(p) == 0,
    # blocked pair-mining must plan as an equi-join on the blocking
    # key, never a cartesian with the verifier in the condition
    "no_cartesian": lambda p: "CartesianProduct" not in p
    and "BroadcastNestedLoopJoin" not in p,
    # line-dedup carrier aggregate: only md5 + the two carrier longs
    # travel, never the line text
    "line_text_pruned_from_exchange": lambda p: not _attr_in_exchange(
        p, "line#"
    ),
    "window_partitioned_by_bucket": _windows_partitioned_by_bucket,
    "window_partitioned_by_cluster": lambda p: "windowspecdefinition(cluster_id"
    in p,
    "window_partitioned_by_key": lambda p: "windowspecdefinition(_key" in p,
    # "key held by >= 2 distinct ids" statistics are one window on the
    # key, never a distinct + aggregate joined back
    "window_partitioned_by_chunk": lambda p: "windowspecdefinition(chunk_md5"
    in p,
    "window_partitioned_by_seg": lambda p: "windowspecdefinition(seg#" in p,
    "window_partitioned_by_gram": lambda p: "windowspecdefinition(gram#" in p,
    "window_partitioned_by_rank": lambda p: "windowspecdefinition(rank#" in p,
    "two_exchanges": lambda p: _n_exchanges(p) == 2,
    "three_exchanges": lambda p: _n_exchanges(p) == 3,
    "no_broadcast": lambda p: "BroadcastHashJoin" not in p
    and "BroadcastExchange" not in p,
    # a localCheckpoint plans as a scan of its RDD
    "no_lineage_cut": lambda p: "ExistingRDD" not in p,
}

CODEGEN_JVM = ["wholestage_codegen", "no_python_udf"]
JVM_AGG = CODEGEN_JVM + ["no_expand"]
PAYLOAD_AGG = ["no_payload_in_exchange", "no_expand"]

# driver query -> the checks its plan must pass. Queries whose Arrow
# stage sits behind a localCheckpoint lineage cut are checked for
# exchange and aggregation discipline here; their Python stage is
# checked on the pre-checkpoint frame in OPERATOR_CHECKS.
QUERY_CHECKS = {
    "scan_filters": ["has_pushed_filters", "wholestage_codegen"],
    "minhash_lsh_pairs": ["wholestage_codegen"],
    "substring_containment": ["wholestage_codegen", "broadcast_join"],
    # blocked cosine GEMM is distributed, never a driver collect
    "cosine_pairs": ["map_in_pandas", "grouped_pandas"],
    # the ANN axis-plane signature must be pure built-in expressions
    "ann_cosine_pairs": CODEGEN_JVM + ["broadcast_join"],
    # canonical marking is one window over the assignment table (the
    # exact tier's broadcast semi-join sits behind CC's edge checkpoint)
    "multimodal_dedup_pipeline": [
        "window_partitioned_by_cluster", "wholestage_codegen",
        "no_payload_in_exchange",
    ],
    "ivf_topk": ["wholestage_codegen"],
    # prefix doubling stays pure JVM; both group stats ride one window
    # on rank, and one groupBy(id) rolls them up
    "suffix_array_spans": JVM_AGG + [
        "window_partitioned_by_rank", "three_exchanges",
    ],
    "boilerplate_stats": CODEGEN_JVM + [
        "window_partitioned_by_seg", "two_exchanges",
    ],
    "repetition_stats": CODEGEN_JVM,
    "pii_scan": CODEGEN_JVM,
    # the shuffle index ranks inside parallel bucket windows
    "deterministic_shuffle": CODEGEN_JVM + [
        "broadcast_join", "window_partitioned_by_bucket",
    ],
    "stratified_sample": CODEGEN_JVM,
    "sequence_packing": CODEGEN_JVM + ["broadcast_join"],
    "source_mixing": CODEGEN_JVM + ["broadcast_join"],
    "embed_text": ["wholestage_codegen"],
    "semantic_dedup_text": ["wholestage_codegen", "no_payload_in_exchange"],
    "avi_video_dedup": ["no_payload_in_exchange", "no_python_udf"],
    "exact_span_dedup": JVM_AGG + [
        "window_partitioned_by_gram", "two_exchanges",
    ],
    # IVFPQ ADC scoring is a distributed Arrow stage, never a driver rank
    "pq_topk": ["map_in_pandas"],
    "tpch_shipping_priority": [
        "has_pushed_filters", "broadcast_join", "wholestage_codegen",
        "no_python_udf",
    ],
    "events_asof_join": JVM_AGG,
    # the chunker runs once below one window on the chunk hash: no cut,
    # no join back
    "cdc_chunk_dedup": PAYLOAD_AGG + [
        "window_partitioned_by_chunk", "two_exchanges", "no_broadcast",
        "no_lineage_cut",
    ],
    "rescale_dedup": PAYLOAD_AGG,
    "dhash_dedup": PAYLOAD_AGG,
    "incremental_cc": ["no_python_udf", "no_expand"],
    # contingency C(n,2) sums, never a materialized pair table
    "pipeline_recall_report": PAYLOAD_AGG,
    "crawl_churn_report": ["no_python_udf", "no_expand"],
    "bm25_topk": JVM_AGG + ["broadcast_join"],
    "value_histogram": JVM_AGG + ["broadcast_join"],
    "table_profile": JVM_AGG,
    "bloom_gram_dedup": JVM_AGG + ["broadcast_join"],
    "unicode_nfc_dedup": ["no_expand", "window_partitioned_by_key"],
    # the vocabulary is never globally sorted
    "key_skew_profile": JVM_AGG + ["broadcast_join", "window_group_limit"],
    "line_dedup": JVM_AGG,
    # deletion-neighborhood blocking: linear keys, no cross join
    "edit1_name_pairs": CODEGEN_JVM + ["no_cartesian"],
    "lm_perplexity": JVM_AGG + ["broadcast_join"],
    "token_entropy": JVM_AGG,
    "snm_name_pairs": CODEGEN_JVM + ["no_cartesian", "broadcast_join"],
    "video_scene_segments": JVM_AGG + ["no_payload_in_exchange"],
    "url_dedup": JVM_AGG,
    "zipf_fit": JVM_AGG + ["broadcast_join"],
    "audio_quality": ["map_in_pandas", "no_payload_in_exchange"],
    "image_quality_stats": ["map_in_pandas", "no_payload_in_exchange"],
    "hll_distinct": JVM_AGG + ["broadcast_join"],
    "cms_heavy_hitters": JVM_AGG,
    "weighted_sample": CODEGEN_JVM + ["take_ordered"],
    # two-phase salted top-k: no task sorts a whole source
    "group_weighted_sample": CODEGEN_JVM + [
        "no_cartesian", "window_group_limit",
    ],
    # one codegen projection over hex(first 12 bytes)
    "format_sniff": CODEGEN_JVM + ["no_exchange"],
    # the 1-row total joins in as a broadcast scalar, which plans as a
    # BroadcastNestedLoopJoin, so no no_cartesian here
    "phash_threshold_sweep": ["no_python_udf", "broadcast_join"],
    "caption_consistency": JVM_AGG + ["no_payload_in_exchange"],
    "border_crop_dedup": PAYLOAD_AGG,
    "best_copy_canonical": PAYLOAD_AGG,
    "dup_rate_by_source": JVM_AGG,
    "hard_negative_pairs": CODEGEN_JVM + ["no_cartesian"],
    "output_shard_plan": JVM_AGG,
    "shared_patch_pairs": PAYLOAD_AGG + ["no_cartesian"],
    "bpe_encode_stats": CODEGEN_JVM + ["no_cartesian"],
    "gps_scrub": ["no_payload_in_exchange", "map_in_pandas"],
    "rotation_invariant_dedup": PAYLOAD_AGG,
    "html_extract": CODEGEN_JVM + ["no_exchange"],
    "snapshot_diff": CODEGEN_JVM + ["no_payload_in_exchange"],
    "length_quantiles_by_source": JVM_AGG,
    "image_geometry_profile": ["no_python_udf", "no_expand"],
    "bow_dedup": JVM_AGG,
    # the verify join ships two payloads per candidate pair: the one
    # legitimate payload shuffle, so no no_payload_in_exchange here
    "verified_rotation_pairs": ["no_cartesian", "no_expand"],
    "dedup_funnel": PAYLOAD_AGG,
    "epoch_plan": JVM_AGG,
    "recompression_dedup": ["no_payload_in_exchange", "no_cartesian"],
    "entity_resolution": CODEGEN_JVM + ["no_cartesian"],
    "conversion_funnel": JVM_AGG,
    "cohort_retention": JVM_AGG + ["broadcast_join"],
    "lang_segmentation": JVM_AGG,
}


def _reader(path):
    # `path` is called only when a case runs, so collecting this module
    # materializes no fixture
    return lambda spark: spark.read.parquet(path())


_images = _reader(fixture_images_parquet)
_videos = _reader(fixture_videos_parquet)
_audio = _reader(fixture_audio_parquet)
_avi = _reader(fixture_avi_parquet)
_docs = _reader(lambda: f"{SF}/documents.parquet")
_KEYS = ["phash", "w", "h", "fmt"]


def _line_carrier_aggregate(spark):
    # the aggregate is this frame's ONLY exchange, so the pruning check
    # is unambiguous
    return (
        split_token_lines(_docs(spark))
        .withColumn("_h", F.md5(F.col("line")))
        .groupBy("_h")
        .agg(F.min(F.struct("doc_id", "line_no")).alias("_first"))
    )


# operator-level frame -> (builder, checks)
OPERATOR_CHECKS = {
    "stage1_key_aggregate": (
        lambda s: size_candidates(_images(s).select(*_KEYS), _KEYS),
        ["scan_pruned_to_metadata", "wholestage_codegen"],
    ),
    "exact_cascade": (
        lambda s: exact_duplicate_clusters(_images(s)),
        ["broadcast_join", "wholestage_codegen", "no_payload_in_exchange"],
    ),
    "exact_cascade_3pass": (
        lambda s: exact_duplicate_clusters(_images(s), fuse_full_hash=False),
        ["broadcast_join", "wholestage_codegen", "no_payload_in_exchange"],
    ),
    "phash_near_dup": (
        lambda s: phash_near_duplicates(_images(s)),
        ["scan_pruned_to_metadata", "broadcast_join", "wholestage_codegen"],
    ),
    # the per-round localCheckpoints hide the in-round joins from the
    # full query's plan, so the rank assignment is checked on its own
    "suffix_array_ranks": (
        lambda s: _dense_ranks(word_positions(_docs(s)), ["word"], "rank"),
        CODEGEN_JVM + ["broadcast_join"],
    ),
    "video_frame_signatures": (
        lambda s: frame_signatures(_videos(s)), CODEGEN_JVM,
    ),
    "video_near_dup": (
        lambda s: video_near_duplicates(_videos(s), max_posting=None),
        CODEGEN_JVM + ["no_payload_in_exchange"],
    ),
    "audio_fingerprints": (
        lambda s: audio_fingerprints(_audio(s)), ["map_in_pandas"],
    ),
    "audio_clusters": (
        lambda s: audio_fingerprint_clusters(_audio(s)),
        ["no_payload_in_exchange"],
    ),
    "avi_frame_signatures": (
        lambda s: avi_frame_signatures(_avi(s), every_n=2),
        ["map_in_pandas", "no_payload_in_exchange"],
    ),
    "cdc_chunk_records": (
        lambda s: chunk_records(_videos(s)),
        ["map_in_pandas", "no_payload_in_exchange"],
    ),
    "nfc_normalizer": (
        lambda s: _docs(s).select(nfc_normalize_udf()(F.col("text"))),
        ["arrow_vectorized"],
    ),
    "line_carrier_aggregate": (
        _line_carrier_aggregate,
        ["wholestage_codegen", "line_text_pruned_from_exchange"],
    ),
    "bpe_word_frequencies": (lambda s: word_frequencies(_docs(s)), JVM_AGG),
}


def _state_join(spark):
    # the exact join shape streaming/incremental.py process_batch uses
    state = spark.createDataFrame(
        pd.DataFrame({"len": [3, 4], "fsha": ["a", "b"], "cluster_id": ["x", "y"]})
    )
    (
        state.write.mode("overwrite").bucketBy(4, "len", "fsha")
        .sortBy("len", "fsha").format("parquet")
        .saveAsTable("plan_check_state")
    )
    probe = spark.createDataFrame(
        pd.DataFrame({"image_id": ["z"], "bytes": [b"abc"]})
    )
    return _batch_hashes(probe, "image_id", "bytes").join(
        spark.table("plan_check_state"), on=["len", "fsha"], how="left"
    )


def _band_join(spark):
    # streaming/fuzzy.py bands_table mode: the O(corpus x bands) LSH
    # index scans bucketed, only the micro-batch side exchanges
    bands = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "band_idx": [0, 1], "band_hash": [11, 22]})
    )
    (
        bands.write.mode("overwrite").bucketBy(4, "band_idx", "band_hash")
        .sortBy("band_idx", "band_hash").format("parquet")
        .saveAsTable("plan_check_bands")
    )
    sig = minhash_signature_udf(DedupConfig())
    banded_new = (
        spark.createDataFrame(
            pd.DataFrame({"doc_id": [9], "text": ["a b c d e f g h i j"]})
        )
        .select("doc_id", sig(F.col("text")).alias("_bands"))
        .select("doc_id", F.posexplode("_bands").alias("band_idx", "band_hash"))
    )
    return banded_new.join(
        spark.table("plan_check_bands"), on=["band_idx", "band_hash"],
        how="inner",
    )


BUCKETED_JOINS = {"streaming_state_join": _state_join, "fuzzy_band_join": _band_join}
BUCKETED_JOIN_CHECKS = ["single_exchange", "bucketed_scan"]


def _plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
        df.explain()
    return buf.getvalue()


def _assert_checks(df, checks: list[str]) -> None:
    plan = _plan_of(df)
    failed = [c for c in checks if not CHECKS[c](plan)]
    if failed:
        pytest.fail(f"failed checks {failed}; plan:\n{plan}", pytrace=False)


@pytest.mark.parametrize("name", list(QUERY_CHECKS))
def test_query_plan(no_aqe, name):
    _assert_checks(entrymod.queries()[name](no_aqe, SF), QUERY_CHECKS[name])


@pytest.mark.parametrize("name", list(OPERATOR_CHECKS))
def test_operator_plan(no_aqe, name):
    build, checks = OPERATOR_CHECKS[name]
    _assert_checks(build(no_aqe), checks)


@pytest.mark.parametrize("name", list(BUCKETED_JOINS))
def test_bucketed_state_join_plan(no_aqe, name):
    spark = no_aqe
    # with broadcast allowed the tiny state side would broadcast and
    # the bucket-aware shuffle-free join would never be planned
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        _assert_checks(BUCKETED_JOINS[name](spark), BUCKETED_JOIN_CHECKS)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for table in ("plan_check_state", "plan_check_bands"):
            spark.sql(f"DROP TABLE IF EXISTS {table}")
