#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload fused_pipeline --seed 1 \\
        --seconds 20 --trace 0

Run from the repository root. With ``--trace 0`` it prints every
end-to-end metric; with ``--trace 1`` it runs one untraced and one
traced pass and prints every per-layer metric. On ``fused_pipeline``
the traced run also ingests the same input files as micro-batches with
``process_batch``, which times the ``streaming.incremental`` layer. The last line of
standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Everything the run
writes (inputs, Spark scratch, traces) goes under ``.perfbench/`` in
the repository root.

Exits 2 without a result when the program (``dedup_spark/``) is not
next to this directory.
"""

from __future__ import annotations

import time

T0 = time.monotonic()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench.workloads import TIERS, WORKLOADS  # noqa: E402

WORK = ROOT / ".perfbench"
# The heap is fixed and touched at start, so the JVM's share of
# peak_rss_mb does not swing with when G1 decides to grow the heap.
# Only the C1 JIT compiles: with C2 a pass's CPU kept falling for the
# first six or more passes (C2 compiling Spark's planner and generated
# code), so a run's median depended on how many passes it got; with C1
# the drift is at most about 2 % a pass. C1 alone gets a 48 MB
# code cache, which filled after about six fused passes and switched
# the compiler off; 240 MB is the size the default JIT gets.
DRIVER_MEM = "2g"
DRIVER_JAVA_OPTS = (f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 "
                    "-XX:ReservedCodeCacheSize=240m")
MIN_PASSES = 3  # the median of a run then outvotes one disturbed pass
RSS_INTERVAL_S = 0.1

# name -> unit; the order is the print order
END_TO_END = {
    "rows_per_s": "rows/s",
    "cpu_s_per_krow": "cpu-s/krow",
    "peak_rss_mb": "MB",
    "setup_s": "s",
    "pair_recall": "fraction",
    "pair_precision": "fraction",
}

PER_LAYER = {
    "session.start_s": "s",
    "inputs.gen_s": "s",
    "sources.scan_partitions": "count",
    "sources.input_bytes": "bytes",
    "sources.files_written": "count",
    "sources.bytes_written": "bytes",
    "pipeline.build_s": "s",
    "pipeline.action_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.core_busy_frac": "fraction",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "python.worker_cpu_s": "s",
    "exact.s": "s",
    "exact.dup_rows": "count",
    "minhash.s": "s",
    "minhash.python_cpu_s": "s",
    "minhash.candidate_pairs": "count",
    "minhash.verified_pairs": "count",
    "minhash.verify_yield": "fraction",
    "simhash.s": "s",
    "simhash.candidate_pairs": "count",
    "simhash.verified_pairs": "count",
    "simhash.verify_yield": "fraction",
    "components.s": "s",
    "components.edges_in": "count",
    "components.iterations": "count",
    "components.clusters": "count",
    "canonical.s": "s",
    **{
        f"multimodal.{t}.{m}": u
        for t in TIERS
        for m, u in (("s", "s"), ("python_cpu_s", "s"), ("clusters", "count"))
    },
    "multimodal.payload_passes": "ratio",
    "multimodal.decode_failures": "count",
    "incremental.batch_s": "s",
    "incremental.first_batch_s": "s",
    "incremental.last_batch_s": "s",
    "incremental.state_rows": "count",
    "incremental.state_files": "count",
    "incremental.out_files": "count",
    "trace.wall_s": "s",
    "trace.untraced_wall_s": "s",
    "trace.overhead_s": "s",
    "trace.span_coverage": "fraction",
}


def cores() -> int:
    """nproc: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def configure_env() -> dict[str, str]:
    """Process settings every run needs; returned for the output."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    settings = {
        # Python workers import dedup_spark from any cwd
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_DRIVER_JAVA_OPTS": f"{DRIVER_JAVA_OPTS} -Djava.io.tmpdir={tmp}",
        "TMPDIR": str(tmp),
    }
    os.environ.update(settings)
    return settings


def spark_conf() -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
    }


def start_spark(n_cores: int):
    from pyspark import SparkContext

    from dedup_spark.session import get_spark

    spark = get_spark("perfbench", cores=n_cores, extra_conf=spark_conf())
    spark.sparkContext.setLogLevel("ERROR")
    return spark, SparkContext._gateway.proc.pid


def stop_spark(spark) -> None:
    """Stop the session, the JVM and every process under this one, and
    wait until each has ended."""
    from pyspark import SparkContext

    from perfbench.telemetry import live_descendants

    gateway = SparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:  # a JVM that will not exit is killed
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while live_descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in live_descendants():
        os.kill(pid, 9)


def guarded(run, rows: int, ops: int, label: str, expect=None):
    """One checked pass, ``run()``. A pass that raises counts every
    operation in it as failed. ``expect``: an earlier pass whose counts
    (such as each tier's cluster count) this one must repeat exactly."""
    from perfbench.workloads import PassResult

    try:
        res = run()
    except Exception as exc:  # noqa: BLE001 - the run records it and goes on
        traceback.print_exception(exc, file=sys.stderr)
        return PassResult(rows=rows, ops=ops, failed=ops, errors=[f"{label}: {exc!r}"])
    if expect is not None and expect.counts and res.counts != expect.counts:
        res.errors.append(f"counts {res.counts} differ from warm-up {expect.counts}")
    if res.errors:
        res.failed = res.ops
    return res


def guarded_pass(w, env, inputs, truth, tr=None, expect=None):
    from perfbench.workloads import pass_ops, run_pass

    n = inputs.manifest["rows"]
    return guarded(lambda: run_pass(w, env, inputs, truth, tr), n, pass_ops(w, n), w.name, expect)


def guarded_ingest(env, inputs, tr):
    """``process_batch`` over the input files, one micro-batch each,
    gated on exact-duplicate recall and precision."""
    from perfbench.workloads import ingest_pass

    return guarded(lambda: ingest_pass(env, inputs, inputs.exact_truth(), "traced", tr),
                   inputs.manifest["rows"], len(inputs.files), "incremental")


def end_to_end(passes, setup_s: float) -> dict[str, float]:
    from perfbench.telemetry import median

    return {
        "rows_per_s": median(p.rows / p.wall_s for p in passes),
        "cpu_s_per_krow": median(p.cpu_s / p.rows * 1e3 for p in passes),
        "peak_rss_mb": median(p.peak_rss / 2**20 for p in passes),
        "setup_s": setup_s,
        "pair_recall": median(p.recall for p in passes),
        "pair_precision": median(p.precision for p in passes),
    }


def per_layer(w, env, inputs, ref, ref_spark, traced, tr, ingest, session_s, gen_s) -> dict[str, float]:
    """``ingest``: the micro-batch pass of a fused_pipeline traced run,
    or None."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    m["session.start_s"] = session_s
    m["inputs.gen_s"] = gen_s
    for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        m[f"spark.{k}"] = ref_spark[k]
    m["spark.core_busy_frac"] = ref_spark["executor_run_s"] / (ref.wall_s * env.cores)
    m["python.worker_cpu_s"] = ref.python_cpu_s
    m.update({k: v for k, v in ref.layer.items() if k.startswith("pipeline.")})
    m.update({k: v for k, v in traced.layer.items() if k in m})
    if ingest is not None:
        m.update({k: v for k, v in ingest.layer.items()
                  if k.startswith(("incremental.", "sources.files_", "sources.bytes_"))})

    scan = next((sp for sp in tr.spans if sp.name == "sources.scan"), None)
    if scan is not None:
        m["sources.scan_partitions"] = scan.spark.get("tasks", 0.0)
        m["sources.input_bytes"] = scan.jvm_read_bytes
    for layer in ("exact", "minhash", "simhash", "components", "canonical"):
        m[f"{layer}.s"] = tr.total(layer, "wall_s")
    m["minhash.python_cpu_s"] = tr.total("minhash", "python_cpu_s")
    for t in TIERS if w.name == "image_signatures" else ():
        m[f"multimodal.{t}.s"] = tr.total(f"multimodal.{t}", "wall_s")
        m[f"multimodal.{t}.python_cpu_s"] = tr.total(f"multimodal.{t}", "python_cpu_s")
    if w.name == "image_signatures" and m["sources.input_bytes"]:
        tier_read = sum(sp.jvm_read_bytes for sp in tr.spans if sp.name.startswith("multimodal."))
        m["multimodal.payload_passes"] = tier_read / m["sources.input_bytes"]
    root = tr.spans[0]
    m["trace.wall_s"] = root.wall_s
    m["trace.untraced_wall_s"] = ref.wall_s
    m["trace.overhead_s"] = root.wall_s - ref.wall_s
    m["trace.span_coverage"] = sum(sp.self_s for sp in tr.spans[1:]) / root.wall_s
    return m


def print_metrics(title: str, values: dict, units: dict) -> None:
    print(f"-- {title}")
    for name, unit in units.items():
        print(f"{name:34s} {values[name]:>16.6g} {unit}")


def print_spans(title: str, tr) -> None:
    print(f"-- spans ({title})")
    print(f"{'span':34s} {'wall_s':>8s} {'self_s':>8s} {'py_cpu_s':>8s} "
          f"{'jobs':>5s} {'stages':>6s} {'tasks':>6s} {'exec_run_s':>10s} "
          f"{'shuf_w_MB':>9s} {'read_MB':>8s}")
    for r in tr.rows():
        print(f"{r['name']:34s} {r['wall_s']:8.3f} {r['self_s']:8.3f} "
              f"{r['python_cpu_s']:8.3f} {r['jobs']:5.0f} {r['stages']:6.0f} "
              f"{r['tasks']:6.0f} {r['executor_run_s']:10.3f} "
              f"{r['shuffle_write_bytes'] / 2**20:9.3f} {r['jvm_read_bytes'] / 2**20:8.3f}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    w = WORKLOADS[args.workload]

    settings = configure_env()
    from perfbench.inputs import MARKER, generate
    from perfbench.telemetry import (
        RssSampler, Tracer, group_metrics, host_steal_s, release_blocks, wait_for_listeners,
    )
    from perfbench.workloads import Env

    cached = (WORK / "inputs" / w.spec.key(args.seed) / MARKER).exists()
    t = time.monotonic()
    inputs = generate(w.spec, args.seed, WORK / "inputs")
    gen_s = time.monotonic() - t
    truth = inputs.truth() if w.truth_kind == "truth" else inputs.exact_truth()

    n_cores = cores()
    t = time.monotonic()
    spark, jvm_pid = start_spark(n_cores)
    session_s = time.monotonic() - t
    env = Env(spark, jvm_pid, n_cores, WORK)
    settings.update({k: spark.conf.get(k) for k in (
        "spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
        "spark.ui.enabled", *spark_conf())})
    settings.update({"spark.version": spark.version, "python": sys.version.split()[0],
                     "workload": w.name, "seed": args.seed, "seconds": args.seconds,
                     "rows": inputs.manifest["rows"], "files": len(inputs.files),
                     "formats": inputs.manifest["formats"], "input_cached": cached})

    passes, errors = [], []
    steal0, t_timed = host_steal_s(), time.monotonic()
    with RssSampler(RSS_INTERVAL_S) as rss:
        try:
            spark.read.parquet(*inputs.files)  # register the input
            warm = guarded_pass(w, env, inputs, truth)
            errors += [f"warm-up: {e}" for e in warm.errors]
            release_blocks(env.sc)
            setup_s = time.monotonic() - T0 - gen_s
            steal0, t_timed = host_steal_s(), time.monotonic()
            if args.trace == 0:
                while len(passes) < MIN_PASSES or time.monotonic() - t_timed < args.seconds:
                    rss.take_peak()
                    res = guarded_pass(w, env, inputs, truth, expect=warm)
                    res.peak_rss = rss.take_peak()
                    passes.append(res)
                    release_blocks(env.sc)
                metrics = end_to_end(passes, setup_s)
            else:
                env.sc.setJobGroup("untraced", "untraced reference pass", False)
                ref = guarded_pass(w, env, inputs, truth, expect=warm)
                env.sc._jsc.clearJobGroup()
                wait_for_listeners(env.sc)
                ref_spark = group_metrics(env.sc, "untraced")
                release_blocks(env.sc)
                tr = Tracer(env.sc, jvm_pid, "traced")
                traced = guarded_pass(w, env, inputs, truth, tr, expect=warm)
                tr.collect_spark()
                passes = [ref, traced]
                ingest = tri = None
                if w.name == "fused_pipeline":
                    release_blocks(env.sc)
                    tri = Tracer(env.sc, jvm_pid, "ingest")
                    ingest = guarded_ingest(env, inputs, tri)
                    tri.collect_spark()
                    passes.append(ingest)
                metrics = per_layer(w, env, inputs, ref, ref_spark, traced, tr, ingest,
                                    session_s, gen_s)
                WORK.joinpath("traces").mkdir(exist_ok=True)
                WORK.joinpath("traces", f"{w.name}-s{args.seed}.json").write_text(
                    json.dumps({"settings": settings, "metrics": metrics, "spans": tr.rows(),
                                "ingest_spans": tri.rows() if tri else []},
                               indent=1, default=str))
        finally:
            steal = host_steal_s() - steal0, time.monotonic() - t_timed
            stop_spark(spark)

    errors += [e for p in passes for e in p.errors]
    attempted = sum(p.ops for p in passes)
    failed = sum(p.failed for p in passes)
    print("-- settings " + json.dumps(settings, default=str))
    print(f"-- {w.name}: {len(passes)} passes, inputs generated in {gen_s:.3f} s, "
          f"error_rate {failed / attempted:.6g} ({failed}/{attempted})")
    print("-- pass walls (s): " + " ".join(f"{p.wall_s:.3f}" for p in passes))
    print(f"-- host steal while measuring: {steal[0]:.1f} cpu-s in {steal[1]:.1f} s "
          f"on {os.cpu_count()} host cpus")
    for e in errors:
        print(f"CHECK FAILED: {e}")
    if args.trace == 0:
        print_metrics("end-to-end (median over timed passes)", metrics, END_TO_END)
    else:
        print_spans("traced pass", tr)
        if tri is not None:
            print_spans("micro-batch ingest of the same files", tri)
        print_metrics("per-layer", metrics, PER_LAYER)
    units = END_TO_END if args.trace == 0 else PER_LAYER
    print(json.dumps({
        "correct": not errors and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    if not (ROOT / "dedup_spark" / "__init__.py").is_file():
        print(f"perfbench: no dedup_spark package under {ROOT}; run from a "
              "repository checkout", file=sys.stderr)
        sys.exit(2)
    sys.exit(main())
