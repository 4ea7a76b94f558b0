#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": sec, "unit": "sec", "queries": {...},
"sf": ...}.

Each query is materialized through Spark's `noop` sink — full execution,
no driver collect. The image pipeline runs over a deterministic
synthesized image+caption corpus (input_hint schema), cached as parquet
in /tmp keyed by (n_rows, seed) so generation cost never pollutes the
measurement.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEADLINE = [
    "exact_dup_clusters",
    "exact_dup_clusters_3pass",
    "dup_stats",
    "canonical_assignments",
    "text_stats",
    "lang_id",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "minhash_lsh_pairs_prod",
    "containment_pairs",
    "cc_clusters",
    "quality_dedup_keep",
    "cosine_pairs",
    "cosine_topk",
    "ann_cosine_pairs",
    "simhash_text_pairs",
    "substring_containment",
    "doc_fingerprints",
    "token_counts",
    "boilerplate_stats",
    "repetition_stats",
    "pii_scan",
    "deterministic_shuffle",
    "stratified_sample",
    "sequence_packing",
    "source_mixing",
    "training_mixture",
    # round-4 tiers
    "embed_text",
    "semantic_dedup_text",
    "decontaminate",
    "avi_video_dedup",
    "exact_span_dedup",
    # round-4 session-2 tiers (pq_topk excluded like ivf_topk: codebook
    # TRAINING dominates at bench scale and is a one-off index build,
    # not per-query work)
    "cdc_chunk_dedup",
    "rescale_dedup",
    "events_asof_join",
    "events_range_join",
    "tpch_pricing_summary",
    "tpch_shipping_priority",
    "events_props_extract",
    "value_histogram",
    "table_profile",
    "cross_source_dup_matrix",
    "cluster_size_histogram",
    "ngram_novelty",
    "exif_metadata",
    "orientation_dedup",
    "jpeg_quality_estimate",
    "bm25_topk",  # runs on the pinned Zipf fixture at the production
    # df prune (sf-independent, like the image-fixture queries)
    # round-5 tier: true suffix-array dup spans. Wall at sf0.1 is
    # dominated by the log2(L)=4 doubling-round barriers (fixed job
    # overhead at this scale, ~20 s), NOT data volume — the rounds
    # shuffle constant-width longs, which is the whole point at large
    # L / large corpora.
    "suffix_array_spans",
    # round-5: Bloom cross-snapshot gram filter (bit_or bitmap +
    # broadcast word probe, pure JVM)
    "bloom_gram_dedup",
    # round-5: NFC canonicalization dedup (Arrow pandas_udf — Spark
    # has no built-in normalizer)
    "unicode_nfc_dedup",
    # round-5: key-skew profiler (combinable counts + WindowGroupLimit
    # top-k, broadcast totals)
    "key_skew_profile",
    # round-5: global first-carrier line dedup (md5-keyed carrier agg,
    # one text shuffle, per-doc reassembly)
    "line_dedup",
    # round-5: FastSS deletion-neighborhood edit-distance-1 pairs
    # (linear blocking keys + JVM levenshtein verify, never O(n^2))
    "edit1_name_pairs",
    # round-5: CCNet-style bigram-LM perplexity (combinable count
    # training, hash-join scoring, exact fixed-point log sums)
    "lm_perplexity",
    # round-5: per-doc token-entropy signal (two combinable aggs)
    "token_entropy",
    # round-5: sorted-neighborhood candidates (two-pass range rank +
    # overlap-band self-join; skew-immune by construction)
    "snm_name_pairs",
    # round-5: frozen-frame scene segmentation (per-video windows,
    # JVM frame signatures on the scene-structured corpus)
    "video_scene_segments",
    # round-5: canonical-URL dedup (parse_url projection, no shuffle
    # before the clustering groupBy)
    "url_dedup",
    # round-5: distributed BPE merge induction (k combinable rounds
    # over the vocab; corpus-scale work is one word-frequency groupBy)
    "bpe_merges",
    # round-5: Zipf rank-frequency fit (two-pass rank, exact decimal
    # regression sums)
    "zipf_fit",
    # round-5: audio silence/clipping quality (Arrow mapInPandas on
    # the defect-structured pcm16 corpus)
    "audio_quality",
    # round-5: from-scratch HLL + count-min (exactly-gated sketches)
    "hll_distinct",
    "cms_heavy_hitters",
    # round-5: A-ES weighted sampling (seeded u^(1/w) keys, top-k)
    "weighted_sample",
    # round-5: per-source budgeted A-ES (two-phase salted top-k)
    "group_weighted_sample",
    # round-5: magic-byte format sniffing (pure-codegen ingest audit)
    "format_sniff",
    # round-5: pHash threshold-sweep eval curve (banded tier + truth)
    "phash_threshold_sweep",
    # round-5: caption<->image label-noise audit (sha/caption aggs)
    "caption_consistency",
    # round-5: border/pad-invariant dedup (content-box sha clusters)
    "border_crop_dedup",
    # round-5: best-copy canonical (max-pixels argmax, agg-only)
    "best_copy_canonical",
    # round-5: per-source dup-rate dashboard (fingerprint rollup)
    "dup_rate_by_source",
    # round-5: hard-negative band mining (inverted-index + band)
    "hard_negative_pairs",
    # round-5: writer shard plan (seeded md5 key + fill factors)
    "output_shard_plan",
    # round-5: shared-patch watermark-family mining (posting-capped)
    "shared_patch_pairs",
    # round-5: BPE application (vocab-table replace chain + doc sums)
    "bpe_encode_stats",
    # round-5: EXIF GPS privacy scrub (in-place, length-preserving)
    "gps_scrub",
    # round-5: rotation/flip-invariant dedup (pixel-multiset sha)
    "rotation_invariant_dedup",
    # round-5: HTML->text extraction (regex cascade, parser-verified)
    "html_extract",
    # round-5: row-level snapshot diff (sha-projected full-outer join)
    "snapshot_diff",
    # round-5: per-source exact length quantiles (calibration table)
    "length_quantiles_by_source",
    # round-5: geometry profile from stored dims (no pixel decoded)
    "image_geometry_profile",
    # round-5: bag-of-words order-invariant dedup (+ injected twins)
    "bow_dedup",
    # round-5: candidate->verify rotation pairs (D4 transform check)
    "verified_rotation_pairs",
    # (streaming_* queries stay out of the bench suite by convention:
    # eager replays measure the harness, not the engine)
    # round-5: the dedup funnel dashboard (per-tier counts + CC)
    "dedup_funnel",
    # round-5: token-budget epoch planning (mixing + arithmetic)
    "epoch_plan",
    # round-5: JPEG recompression dedup (radius-4 phash + CC)
    "recompression_dedup",
    # round-5: end-to-end entity resolution (blocking + CC + ids)
    "entity_resolution",
    # round-5: daily click->purchase funnel (day-grain rollup)
    "conversion_funnel",
    # round-5: cohort retention (first-day agg + distinct cells)
    "cohort_retention",
    # round-5: per-line language segmentation (mixed-doc detection)
    "lang_segmentation",
    # round-5: brightness/rescale-invariant dHash dedup (pinned
    # fixture, sf-independent like the other image queries)
    "dhash_dedup",
    # round-5: incremental CC (two-phase crawl split + contracted-graph
    # batch update over the cc_clusters edge tier)
    "incremental_cc",
    # round-5: north-rule recall bar as a gated artifact (pinned
    # fixture + full pipeline + contingency pair counts)
    "pipeline_recall_report",
    # round-5: incremental-crawl churn audit (both phases + six
    # combinable counts)
    "crawl_churn_report",
]


def _own_cpuacct_usage_file() -> str | None:
    """Path of this process tree's cpuacct.usage, if the process was
    started in a NON-ROOT cpuacct cgroup (e.g. under a CPU quota).
    cgroup accounting is exact — it counts every task that ever
    lived in the group, including short-lived forked workers that a
    /proc walk misses between samples — so prefer it when available."""
    try:
        with open("/proc/self/cgroup") as f:
            for line in f:
                _, ctrl, path = line.strip().split(":", 2)
                if "cpuacct" in ctrl.split(",") and path not in ("/", ""):
                    p = f"/sys/fs/cgroup/cpuacct{path}/cpuacct.usage"
                    if os.path.exists(p):
                        return p
    except OSError:
        pass
    return None


_CPUACCT_FILE = _own_cpuacct_usage_file()


def _proc_cpu_seconds() -> float:
    """Total CPU seconds of this process and ALL live descendants
    (Linux) — the JVM and, crucially, the pyspark.daemon python workers
    it forks (grandchildren; a PPID==self filter missed them, which
    under-counted every pandas-UDF stage — round-3 fix). When the
    process runs inside a dedicated cpuacct cgroup, the kernel's
    whole-tree counter is used instead — same semantics, exact for
    reaped children.

    Wall-clock on this sandbox is governed by a fluctuating,
    oversubscribed host CPU; cpu-seconds per row is the
    contention-independent cost measure (see BENCH/BASELINE.md)."""
    if _CPUACCT_FILE is not None:
        try:
            with open(_CPUACCT_FILE) as f:
                return int(f.read()) / 1e9
        except (OSError, ValueError):
            pass
    hz = os.sysconf("SC_CLK_TCK")
    me = os.getpid()
    try:
        with open("/proc/self/stat") as f:
            parts = f.read().rsplit(")", 1)[1].split()
        total = (int(parts[11]) + int(parts[12])) / hz  # utime+stime
        total += (int(parts[13]) + int(parts[14])) / hz  # children (reaped)
    except OSError:
        return 0.0
    ppid_of: dict[int, int] = {}
    cpu_of: dict[int, float] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
            ppid_of[int(pid)] = int(rest[1])
            cpu_of[int(pid)] = (int(rest[11]) + int(rest[12])) / hz
        except (OSError, IndexError, ValueError):
            continue
    kids: dict[int, list[int]] = {}
    for pid, ppid in ppid_of.items():
        kids.setdefault(ppid, []).append(pid)
    stack = list(kids.get(me, []))
    while stack:
        pid = stack.pop()
        total += cpu_of.get(pid, 0.0)
        stack.extend(kids.get(pid, []))
    return total


def _sf_value(sf_dir: str) -> float:
    tail = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(tail.replace("sf", ""))
    except ValueError:
        return -1.0


SLICE = 40_000


def image_corpus_path(spark, n_rows: int, seed: int = 42) -> str:
    """Deterministic image+caption corpus parquet, generated once.

    Built in <= SLICE-row slices (seed+slice_idx each), generated IN
    PARALLEL on executors via mapInPandas — each task synthesizes one
    slice, so generation scales with cores instead of a driver-side
    loop (measured ~30x on this box; a 1M-row corpus drops from ~1 h
    to minutes). Row content is byte-identical to the former serial
    loop: same per-slice seed, same id prefixes — only file layout
    differs. Ids are prefixed per slice so they stay globally unique;
    duplicate/near-dup structure is within-slice, which is fine for
    throughput benchmarking."""
    import pandas as pd

    path = f"/tmp/dedup_spark_bench/images_v2_n{n_rows}_s{seed}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        from dedup_spark.fixtures.images import IMAGES_SCHEMA, generate_corpus

        slices = [
            (lo // SLICE, min(SLICE, n_rows - lo))
            for lo in range(0, n_rows, SLICE)
        ]
        sdf = spark.createDataFrame(
            pd.DataFrame(slices, columns=["slice_idx", "n"])
        ).repartition(len(slices))

        def _gen(it):
            for pdf in it:
                for _, row in pdf.iterrows():
                    corpus = generate_corpus(
                        int(row["n"]), dup_ratio=0.3, near_dup_ratio=0.1,
                        profile="mixed", seed=seed + int(row["slice_idx"]),
                    )
                    img = corpus.images
                    img["image_id"] = (
                        f"s{int(row['slice_idx']):02d}/" + img["image_id"]
                    )
                    # yield in sub-chunks to bound Arrow buffer memory
                    for lo2 in range(0, len(img), 4000):
                        yield img.iloc[lo2 : lo2 + 4000]

        tmp = path + ".tmp"
        sdf.mapInPandas(_gen, schema=IMAGES_SCHEMA).write.mode(
            "overwrite"
        ).parquet(tmp)
        os.rename(tmp, path)
    return path


def run_image_pipeline(spark, path: str):
    """Flagship at-scale job: exact cascade + phash Hamming near-dups +
    connected components + canonical marking, over the image table.
    (Caption LSH is benchmarked separately on the documents table —
    minhash_lsh_pairs — so this measures the image-payload tiers.)"""
    from dedup_spark.pipeline import dedup_pipeline

    df = spark.read.parquet(path)
    return dedup_pipeline(df, caption_col=None)


def run_multimodal_pipeline(spark, path: str):
    """The FUSED north-star job: all three tiers — exact byte cascade,
    caption MinHash-LSH, phash Hamming — union of verified edges → CC →
    canonical, at the production config and flood-safe guards. One
    number for 'what does the whole engine cost per image'."""
    from dedup_spark.pipeline import dedup_pipeline

    df = spark.read.parquet(path)
    return dedup_pipeline(df)


def main() -> None:
    from dedup_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("dedup_bench", cores=CPUS)
    sf = _sf_value(SF_DIR)
    n_images = max(400, int(400_000 * max(sf, 0.001)))

    names = HEADLINE + ["image_pipeline", "multimodal_pipeline"]
    qs = entrymod.queries()
    img_path = image_corpus_path(spark, n_images)

    def build(name):
        if name == "image_pipeline":
            return run_image_pipeline(spark, img_path)
        if name == "multimodal_pipeline":
            return run_multimodal_pipeline(spark, img_path)
        return qs[name](spark, SF_DIR)

    # warmup pass (JIT/code-cache/page-cache), then a timed pass —
    # mirrors the reference harness's warmup-then-measure protocol
    # (reference benchmark/runner.py:86-148)
    times: dict[str, float] = {}
    cpu: dict[str, float] = {}
    for name in names:
        build(name).write.format("noop").mode("overwrite").save()
        c0, t0 = _proc_cpu_seconds(), time.time()
        build(name).write.format("noop").mode("overwrite").save()
        times[name] = round(time.time() - t0, 3)
        cpu[name] = round(_proc_cpu_seconds() - c0, 3)
        # release this query's eager localCheckpoint blocks before the
        # next one runs: the ContextCleaner only unpersists a
        # checkpointed RDD after the driver GCs its reference, so a
        # 70-query suite otherwise ACCUMULATES every CC-loop /
        # suffix-array / dedup-tier block in executor storage until
        # late-suite queries thrash on eviction (image_pipeline
        # measured 6.8 s standalone vs 38.5 s at suite position 71
        # before this hygiene). Per-query measurement is unaffected —
        # the GC runs outside the timed window.
        import gc as _gc

        _gc.collect()
        spark.sparkContext._jvm.System.gc()
    # value = steady-state suite time (sum of timed passes)
    total = round(sum(times.values()), 3)

    result = {
        "metric": "dedup_suite_wall",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "cpus": CPUS,
        "image_rows": n_images,
    }
    result["cpu_sec"] = cpu
    # per-image rate metrics of the image-payload pipeline
    rate_q = "image_pipeline"
    if times[rate_q]:
        result["rate_query"] = rate_q
        result["images_per_sec"] = round(n_images / times[rate_q], 1)
        if cpu.get(rate_q):
            result["cpu_sec_per_kimg"] = round(
                1000 * cpu[rate_q] / n_images, 3
            )
    # the full suite is ~50 queries x 2 dicts and the one JSON line
    # outgrew the driver's tail-capture window in round 4
    # (BENCH_r04.json parsed:null). Full detail goes to
    # BENCH/bench_detail.json; stdout gets a compact LAST line with the
    # top-10 walls only.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH",
        "bench_detail.json",
    )
    os.makedirs(os.path.dirname(detail_path), exist_ok=True)
    with open(detail_path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    top10 = dict(
        sorted(times.items(), key=lambda kv: -kv[1])[:10]
    )
    compact = {k: v for k, v in result.items() if k != "cpu_sec"}
    compact["queries"] = top10
    compact["n_queries_run"] = len(times)
    compact["detail"] = "BENCH/bench_detail.json"
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
