"""The benchmark workloads: one pass each, its correctness gate, and a
traced pass that splits the same work into layer spans. ``ingest_pass``
runs ``process_batch`` over a workload's input files as micro-batches;
the traced run of ``fused_pipeline`` uses it to time the
``streaming.incremental`` layer.

A pass returns a ``PassResult``. Its ``ops``/``failed`` follow the
workload's unit of work (a pass, a micro-batch, a decoded row); a pass
that raises or fails its gate counts every operation in it as failed.
"""

from __future__ import annotations

import shutil
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from itertools import combinations
from pathlib import Path

from perfbench.inputs import InputSpec, Inputs
from perfbench.telemetry import Tracer, median, sample_tree

# gate: BASELINE.json asks for dup-pair recall >= 0.99
MIN_RECALL = 0.99
MIN_PRECISION = 0.99


@dataclass
class Env:
    spark: object
    jvm_pid: int | None
    cores: int
    work: Path

    @property
    def sc(self):
        return self.spark.sparkContext


@dataclass
class PassResult:
    rows: int
    ops: int
    failed: int = 0
    unit_walls: list[float] = field(default_factory=list)  # one per micro-batch
    recall: float = 0.0
    precision: float = 0.0
    errors: list[str] = field(default_factory=list)
    counts: dict = field(default_factory=dict)  # compared across passes
    layer: dict = field(default_factory=dict)  # per-layer numbers
    wall_s: float = 0.0
    cpu_s: float = 0.0
    python_cpu_s: float = 0.0
    peak_rss: int = 0


@contextmanager
def measured(res: PassResult, env: Env, tr: Tracer | None):
    """Time the pass's own work (not its gate): wall, process-tree CPU
    and Python-worker CPU. In a traced pass this is the root span."""
    s0, t0 = sample_tree(env.jvm_pid), time.monotonic()
    if tr is None:
        yield
    else:
        with tr.span("pass"):
            yield
    res.wall_s = time.monotonic() - t0
    s1 = sample_tree(env.jvm_pid)
    res.cpu_s = s1.cpu_s - s0.cpu_s
    res.python_cpu_s = s1.python_cpu_s - s0.python_cpu_s


def pairs(assign: dict[str, str]) -> set[tuple[str, str]]:
    """Unordered within-cluster pairs of an id -> cluster_id map."""
    members: dict[str, list[str]] = {}
    for rid, cid in assign.items():
        members.setdefault(cid, []).append(rid)
    return {p for ids in members.values() for p in combinations(sorted(ids), 2)}


def score(found: set, truth: set) -> tuple[float, float]:
    hit = len(found & truth)
    recall = hit / len(truth) if truth else 1.0
    precision = hit / len(found) if found else 1.0
    return recall, precision


def _gate_pairs(res: PassResult, found: dict, truth: dict, label: str) -> None:
    if set(found) != set(truth):
        res.errors.append(
            f"{label}: {len(found)} ids assigned, {len(truth)} expected"
        )
    res.recall, res.precision = score(pairs(found), pairs(truth))
    if res.recall < MIN_RECALL or res.precision < MIN_PRECISION:
        res.errors.append(
            f"{label}: recall {res.recall:.4f} precision {res.precision:.4f}"
        )


# ------------------------------------------------------------ fused_pipeline


def _fused_check(res: PassResult, rows, truth: dict) -> None:
    found = {r[0]: r[1] for r in rows}
    _gate_pairs(res, found, truth, "fused_pipeline")
    canon: dict[str, list[str]] = {}
    for rid, cid, is_canon in rows:
        if is_canon:
            canon.setdefault(cid, []).append(rid)
    if len(canon) != len(set(found.values())) or any(len(v) != 1 for v in canon.values()):
        res.errors.append("fused_pipeline: not exactly one canonical per cluster")
    res.counts["clusters"] = len(set(found.values()))


def fused_pass(env: Env, inputs: Inputs, truth: dict) -> PassResult:
    """``dedup_pipeline`` with all three tiers, then the action. The
    eager localCheckpoints inside the pipeline run while it is built,
    so the pass wall covers build and action. The action collects the
    slim assignment table, which the gate checks."""
    from dedup_spark.pipeline import dedup_pipeline

    res = PassResult(rows=inputs.manifest["rows"], ops=1)
    with measured(res, env, None):
        t0 = time.monotonic()
        out = dedup_pipeline(env.spark.read.parquet(*inputs.files))
        t1 = time.monotonic()
        rows = out.select("image_id", "cluster_id", "is_canonical").collect()
        t2 = time.monotonic()
    res.layer.update({"pipeline.build_s": t1 - t0, "pipeline.action_s": t2 - t1})
    _fused_check(res, rows, truth)
    return res


def fused_traced(env: Env, inputs: Inputs, truth: dict, tr: Tracer) -> PassResult:
    """The wiring of ``dedup_pipeline`` (default config and guards),
    one span per public call, each result forced by an eager
    checkpoint so its work lands in its own span."""
    from pyspark.sql import functions as F

    from dedup_spark.config import DEFAULT_CONFIG as cfg
    from dedup_spark.operators.canonical import with_canonical
    from dedup_spark.operators.components import connected_components
    from dedup_spark.operators.exact import exact_duplicate_clusters
    from dedup_spark.operators.minhash import band_candidates, jaccard_verify
    from dedup_spark.operators.simhash import hamming_candidates, hamming_verify
    from dedup_spark.plans.lineage import StageMetrics

    res = PassResult(rows=inputs.manifest["rows"], ops=1)
    with measured(res, env, tr):
        df = env.spark.read.parquet(*inputs.files)
        with tr.span("sources.scan"):
            df.write.format("noop").mode("overwrite").save()
        with tr.span("exact"):
            exact = exact_duplicate_clusters(
                df, extra_keys=("phash", "w", "h", "fmt"), cfg=cfg
            ).localCheckpoint(eager=True)
        with tr.span("minhash.band_candidates"):
            cand_txt = band_candidates(df, "image_id", "caption", cfg).localCheckpoint(eager=True)
        with tr.span("minhash.jaccard_verify"):
            near_txt = jaccard_verify(df, cand_txt, "image_id", "caption", cfg).localCheckpoint(eager=True)
        with tr.span("simhash.hamming_candidates"):
            cand_img = hamming_candidates(df, "image_id", "phash", cfg).localCheckpoint(eager=True)
        with tr.span("simhash.hamming_verify"):
            near_img = hamming_verify(cand_img, cfg).localCheckpoint(eager=True)
        edges = (
            exact.select(F.col("image_id").alias("id1"), F.col("cluster_id").alias("id2"))
            .unionByName(near_txt.select("id1", "id2"))
            .unionByName(near_img.select("id1", "id2"))
        )
        cc_metrics = StageMetrics("connected_components")
        with tr.span("components"):
            cc = connected_components(edges, cfg, metrics=cc_metrics)
            # clusters_from_pairs' singleton merge
            assigned = (
                df.select("image_id")
                .join(cc.withColumnRenamed("id", "image_id"), on="image_id", how="left")
                .withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col("image_id")))
                .localCheckpoint(eager=True)
            )
        with tr.span("canonical"):
            rows = with_canonical(assigned).select(
                "image_id", "cluster_id", "is_canonical"
            ).collect()
    _fused_check(res, rows, truth)
    n_cand_txt, n_txt = cand_txt.count(), near_txt.count()
    n_cand_img, n_img = cand_img.count(), near_img.count()
    res.layer.update(
        {
            "exact.dup_rows": exact.count(),
            "minhash.candidate_pairs": n_cand_txt,
            "minhash.verified_pairs": n_txt,
            "minhash.verify_yield": n_txt / n_cand_txt if n_cand_txt else 0.0,
            "simhash.candidate_pairs": n_cand_img,
            "simhash.verified_pairs": n_img,
            "simhash.verify_yield": n_img / n_cand_img if n_cand_img else 0.0,
            "components.edges_in": edges.count(),
            "components.iterations": sum(
                1 for e in cc_metrics.entries if e["metric"] == "wall_seconds"
            ),
            "components.clusters": res.counts["clusters"],
        }
    )
    return res


# ------------------------------------------------------------ image_signatures


TIERS = ("pixel_sha", "thumbprint", "border_trim", "rotation")


def _sig_tiers():
    """The decode-based tiers (``TIERS``), in the order a pass runs them.
    ``dhash_clusters`` is left out: it splits byte-identical images
    whenever an Arrow batch also holds a sub-grid (<9x8) image, because
    the None of that row turns the batch's int64 hash column into
    float64 and rounds the hashes (see README.md, "Known defect")."""
    from dedup_spark.multimodal.crop import border_trim_clusters
    from dedup_spark.multimodal.decode import pixel_sha, thumbprint_clusters
    from dedup_spark.multimodal.rotinv import rotation_invariant_clusters

    return (
        ("pixel_sha", pixel_sha, "pixel_sha"),
        ("thumbprint", thumbprint_clusters, "cluster_id"),
        ("border_trim", border_trim_clusters, "cluster_id"),
        ("rotation", rotation_invariant_clusters, "cluster_id"),
    )


def _sig_tier_check(res: PassResult, tier: str, rows, exact: dict) -> None:
    """``rows``: (image_id, ok, key). pixel_sha's key is the sha itself,
    so its clusters are formed here: min id per sha. Every generated
    payload decodes, so an ok=false row is a failed operation."""
    ok = [(rid, key) for rid, good, key in rows if good]
    bad = len(rows) - len(ok)
    if tier == "pixel_sha":
        first: dict[str, str] = {}
        for rid, key in sorted(ok):
            first.setdefault(key, rid)
        found = {rid: first[key] for rid, key in ok}
    else:
        found = dict(ok)
    truth_pairs = pairs(exact)
    found_pairs = pairs(found)
    recall = len(found_pairs & truth_pairs) / len(truth_pairs) if truth_pairs else 1.0
    if tier == "pixel_sha":  # pixel equality is exactly the exact-dup truth
        res.precision = score(found_pairs, truth_pairs)[1]
        if res.precision < MIN_PRECISION:
            res.errors.append(f"pixel_sha: precision {res.precision:.4f}")
    res.recall = min(res.recall, recall)
    if recall < 1.0:
        res.errors.append(f"{tier}: exact-duplicate recall {recall:.4f}")
    if len(rows) != len(exact):
        res.errors.append(f"{tier}: {len(rows)} rows, {len(exact)} expected")
    res.failed += bad
    res.counts[tier] = len(set(found.values()))
    res.layer[f"multimodal.{tier}.clusters"] = res.counts[tier]
    res.layer["multimodal.decode_failures"] = res.layer.get("multimodal.decode_failures", 0) + bad


def sig_pass(env: Env, inputs: Inputs, exact: dict, tr: Tracer | None = None) -> PassResult:
    """The five decode-based tiers one after another over the same
    input; each tier's (id, ok, key) is collected for the gate."""
    n = inputs.manifest["rows"]
    res = PassResult(rows=n, ops=0, recall=1.0)
    collected = []
    with measured(res, env, tr):
        df = env.spark.read.parquet(*inputs.files)
        if tr is not None:
            with tr.span("sources.scan"):
                df.select("image_id", "bytes", "fmt").write.format("noop").mode("overwrite").save()
        for tier, fn, key in _sig_tiers():
            with tr.span(f"multimodal.{tier}") if tr is not None else nullcontext():
                collected.append((tier, fn(df).select("image_id", "ok", key).collect()))
    for tier, rows in collected:
        res.ops += n
        _sig_tier_check(res, tier, rows, exact)
    return res


# ------------------------------------------------------------ incremental ingest


def _dir_files(path: Path) -> list[Path]:
    return [p for p in path.rglob("*.parquet") if p.is_file()]


def ingest_pass(env: Env, inputs: Inputs, exact: dict, tag: str, tr: Tracer | None = None) -> PassResult:
    """``process_batch`` once per input file, into fresh state and
    output directories; the gate reads the output back afterwards."""
    from dedup_spark.streaming.incremental import process_batch

    files = inputs.files
    res = PassResult(rows=inputs.manifest["rows"], ops=len(files))
    base = env.work / "ingest" / tag
    shutil.rmtree(base, ignore_errors=True)
    state, out = base / "state", base / "out"
    with measured(res, env, tr):
        if tr is not None:
            with tr.span("sources.scan"):
                env.spark.read.parquet(*files).write.format("noop").mode("overwrite").save()
        for f in files:
            t0 = time.monotonic()
            with tr.span("incremental.process_batch") if tr is not None else nullcontext():
                process_batch(env.spark, env.spark.read.parquet(f), str(state), str(out))
            res.unit_walls.append(time.monotonic() - t0)
    got = env.spark.read.parquet(str(out)).select("image_id", "cluster_id").collect()
    found = {r[0]: r[1] for r in got}
    if len(found) != len(got):
        res.errors.append("incremental: an id was assigned twice")
    _gate_pairs(res, found, exact, "incremental")
    state_files, out_files = _dir_files(state), _dir_files(out)
    res.counts["clusters"] = len(set(found.values()))
    res.layer.update(
        {
            "exact.dup_rows": sum(1 for k, v in found.items() if k != v),
            "incremental.state_rows": env.spark.read.parquet(str(state)).count(),
            "incremental.state_files": len(state_files),
            "incremental.out_files": len(out_files),
            "sources.files_written": len(state_files) + len(out_files),
            "sources.bytes_written": sum(p.stat().st_size for p in state_files + out_files),
            "incremental.batch_s": median(res.unit_walls),
            "incremental.first_batch_s": res.unit_walls[0],
            "incremental.last_batch_s": res.unit_walls[-1],
        }
    )
    shutil.rmtree(base, ignore_errors=True)
    return res


# ------------------------------------------------------------ registry


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    spec: InputSpec
    truth_kind: str  # "truth" (generator clusters) or "exact" (identical bytes)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "fused_pipeline",
            "the north-star job: exact cascade, caption MinHash-LSH and phash "
            "bands, then CC and canonical marking; no pixel is decoded",
            InputSpec("fused_pipeline", rows=2000, files=4),
            "truth",
        ),
        Workload(
            "image_signatures",
            "four decode-based tiers on a ppm/png/jpeg mix: the multimodal "
            "decode and signature layer does all the work, LSH and CC none",
            InputSpec("image_signatures", rows=360, files=4, reencode=True),
            "exact",
        ),
    )
}


def pass_ops(w: Workload, rows: int) -> int:
    """Operations in one pass: the pass itself on fused_pipeline, one
    decoded row per tier on image_signatures."""
    return 1 if w.name == "fused_pipeline" else rows * len(TIERS)


def run_pass(w: Workload, env: Env, inputs: Inputs, truth: dict, tr: Tracer | None = None) -> PassResult:
    if w.name == "fused_pipeline":
        return fused_pass(env, inputs, truth) if tr is None else fused_traced(env, inputs, truth, tr)
    return sig_pass(env, inputs, truth, tr)
