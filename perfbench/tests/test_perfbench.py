"""Self-tests for the benchmark's own code.

    python3 -m pytest perfbench/tests -q

The Spark tests share one local session; the smoke test runs every
workload once on tiny inputs.
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from dataclasses import replace
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import inputs, run  # noqa: E402
from perfbench.inputs import InputSpec, generate  # noqa: E402
from perfbench.telemetry import (  # noqa: E402
    Tracer,
    group_metrics,
    live_descendants,
    median,
    quartile_spread,
    wait_for_listeners,
)
from perfbench.workloads import WORKLOADS, Env  # noqa: E402


def test_median():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 3, 2]) == 2.5
    assert median([7.5]) == 7.5
    with pytest.raises(ValueError):
        median([])


def test_quartile_spread_matches_statistics_quantiles():
    xs = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 9.7, 10.6]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert quartile_spread(xs) == pytest.approx((q3 - q1) / statistics.median(xs))


def test_manifest_matches_code():
    """BENCHMARK.json names exactly the workloads and metrics the code
    produces, with the same units and reasons."""
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {w["name"]: w["why"] for w in bench["workloads"]} == {
        w.name: w.why for w in WORKLOADS.values()
    }
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert all(m["bound"] <= 0.25 for m in bench["end_to_end"])


def _files(root: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(root.glob("*.parquet"))}


def test_same_seed_gives_identical_bytes(tmp_path):
    spec = InputSpec("image_signatures", rows=40, files=2, reencode=True)
    a = generate(spec, 5, tmp_path / "a")
    b = generate(spec, 5, tmp_path / "b")
    c = generate(spec, 6, tmp_path / "c")
    assert _files(a.path) == _files(b.path)
    assert len(_files(a.path)) == 3  # two input files + truth
    assert _files(a.path) != _files(c.path)
    assert set(a.manifest["formats"]) <= {"ppm", "png", "jpeg"}


def test_cache_key_and_marker(tmp_path):
    spec = InputSpec("fused_pipeline", rows=30, files=3)
    first = generate(spec, 1, tmp_path)
    mtimes = {p: p.stat().st_mtime_ns for p in first.path.iterdir()}
    again = generate(spec, 1, tmp_path)  # cached: nothing rewritten
    assert {p: p.stat().st_mtime_ns for p in again.path.iterdir()} == mtimes
    assert generate(replace(spec, rows=31), 1, tmp_path).path != first.path
    (first.path / "_COMPLETE").unlink()  # an unfinished input is redone
    redone = generate(spec, 1, tmp_path)
    assert _files(redone.path) == _files(first.path)
    for seed in range(2, 8):
        generate(spec, seed, tmp_path)
    assert len(list(tmp_path.glob("fused_pipeline-*"))) == inputs.KEEP


@pytest.fixture(scope="module")
def env(tmp_path_factory):
    run.configure_env()
    spark, jvm_pid = run.start_spark(run.cores())
    yield Env(spark, jvm_pid, run.cores(), tmp_path_factory.mktemp("work"))
    run.stop_spark(spark)
    assert not live_descendants()


def test_status_store_extraction(env):
    env.sc.setJobGroup("selftest", "tiny job", False)
    env.spark.range(0, 2_000_000, numPartitions=4).selectExpr(
        "id % 97 AS k", "id * id AS v"
    ).groupBy("k").sum("v").collect()
    env.sc._jsc.clearJobGroup()
    wait_for_listeners(env.sc)
    m = group_metrics(env.sc, "selftest")
    assert m["jobs"] >= 1
    assert m["stages"] >= 2  # map side + reduce side
    assert m["tasks"] >= 4
    assert m["executor_run_s"] > 0
    assert m["shuffle_write_bytes"] > 0


TINY = {
    "fused_pipeline": InputSpec("fused_pipeline", rows=80, files=2),
    "image_signatures": InputSpec("image_signatures", rows=24, files=2, reencode=True),
}


def test_smoke_all_workloads(env, tmp_path):
    t0 = time.monotonic()
    for name, spec in TINY.items():
        w = replace(WORKLOADS[name], spec=spec)
        inputs = generate(spec, 3, tmp_path)
        truth = inputs.truth() if w.truth_kind == "truth" else inputs.exact_truth()
        res = run.guarded_pass(w, env, inputs, truth)
        assert not res.errors and res.failed == 0, res.errors
        res.peak_rss = 1
        metrics = run.end_to_end([res], setup_s=1.0)
        assert set(metrics) == set(run.END_TO_END)
        assert metrics["pair_recall"] == 1.0
    assert time.monotonic() - t0 < 60


def test_traced_pass_reports_every_layer_metric(env, tmp_path):
    spec = InputSpec("fused_pipeline", rows=60, files=3)
    w = replace(WORKLOADS["fused_pipeline"], spec=spec)
    inputs = generate(spec, 4, tmp_path)
    truth = inputs.truth()
    env.sc.setJobGroup("ref", "reference", False)
    ref = run.guarded_pass(w, env, inputs, truth)
    env.sc._jsc.clearJobGroup()
    wait_for_listeners(env.sc)
    ref_spark = group_metrics(env.sc, "ref")
    tr = Tracer(env.sc, env.jvm_pid, "t")
    traced = run.guarded_pass(w, env, inputs, truth, tr)
    tr.collect_spark()
    tri = Tracer(env.sc, env.jvm_pid, "i")
    ingest = run.guarded_ingest(env, inputs, tri)
    assert not traced.errors and not ingest.errors, traced.errors + ingest.errors
    m = run.per_layer(w, env, inputs, ref, ref_spark, traced, tr, ingest, 1.0, 0.0)
    assert set(m) == set(run.PER_LAYER)
    assert m["spark.jobs"] > 0 and m["components.clusters"] > 0
    assert m["incremental.state_files"] > 0 and m["sources.files_written"] > 0
    assert [sp.name for sp in tri.spans].count("incremental.process_batch") == 3
    # spans are flat under the root, so their self times plus the
    # root's own glue add up to the traced wall exactly
    for t in (tr, tri):
        assert sum(sp.self_s for sp in t.spans) == pytest.approx(t.spans[0].wall_s)
