"""Connected-components tests: transitivity, isolation, convergence,
checkpoint-resume (north rule's resumability requirement). The graph
tests run on both paths: the one-task local finish (default budget) and
the distributed star loop (budget 0)."""

from __future__ import annotations

import json
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dedup_spark.config import DedupConfig
from dedup_spark.operators import components
from dedup_spark.operators.components import (
    clusters_from_pairs,
    connected_components,
)
from dedup_spark.plans.lineage import StageMetrics


def _edges(spark, pairs):
    return spark.createDataFrame(pd.DataFrame(pairs, columns=["id1", "id2"]))


def _assign(df):
    return {r["id"]: r["cluster_id"] for r in df.collect()}


def _stages(m: StageMetrics) -> list[str]:
    return [e["stage"] for e in m.entries]


@pytest.fixture
def cc(monkeypatch):
    """connected_components on both paths: the local finish at the
    default budget, then the star loop at budget 0. Checks from the
    metrics which path ran and that both give the same map."""
    default = components._LOCAL_EDGE_BUDGET

    def run(edges):
        got = {}
        for path, budget in (("local", default), ("star", 0)):
            monkeypatch.setattr(components, "_LOCAL_EDGE_BUDGET", budget)
            m = StageMetrics("cc")
            got[path] = _assign(connected_components(edges, metrics=m))
            local = "local_finish_edges" in _stages(m)
            assert local == (path == "local"), _stages(m)
            assert any(s.startswith("iter_") for s in _stages(m)) != local
        assert got["local"] == got["star"]
        return got["local"]

    return run


def test_chain_transitivity(spark, cc):
    got = cc(_edges(spark, [("a", "b"), ("b", "c"), ("c", "d")]))
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a"}


def test_components_stay_disjoint(spark, cc):
    got = cc(_edges(spark, [("a", "b"), ("x", "y"), ("y", "z")]))
    assert got["a"] == got["b"] == "a"
    assert got["x"] == got["y"] == got["z"] == "x"


def test_long_path_converges_logarithmically(spark, cc):
    n = 64
    chain = [(f"n{i:03d}", f"n{i+1:03d}") for i in range(n - 1)]
    got = cc(_edges(spark, chain))
    assert set(got.values()) == {"n000"}
    assert len(got) == n


def test_duplicate_and_reversed_edges(spark, cc):
    got = cc(_edges(spark, [("b", "a"), ("a", "b"), ("b", "c"), ("c", "b")]))
    assert got == {"a": "a", "b": "a", "c": "a"}


def test_star_round_hands_off_to_local_finish(spark, monkeypatch):
    """A star round that shrinks the edge set into the budget finishes
    in one task: an 8-clique (28 edges) is a 7-edge star after one
    round."""
    monkeypatch.setattr(components, "_LOCAL_EDGE_BUDGET", 10)
    nodes = [f"k{i}" for i in range(8)]
    clique = [(a, b) for i, a in enumerate(nodes) for b in nodes[i + 1:]]
    m = StageMetrics("cc")
    got = _assign(connected_components(_edges(spark, clique), metrics=m))
    assert got == {n: "k0" for n in nodes}
    vals = {e["stage"]: e["value"] for e in m.entries if e["metric"] == "value"}
    assert vals == {"iter_0_edges": 7, "local_finish_edges": 7}


def test_singletons_self_cluster(spark):
    ids = spark.createDataFrame(pd.DataFrame({"image_id": ["a", "b", "c"]}))
    out = clusters_from_pairs(_edges(spark, [("a", "b")]), all_ids=ids)
    got = {r["image_id"]: r["cluster_id"] for r in out.collect()}
    assert got == {"a": "a", "b": "a", "c": "c"}


def test_checkpoint_resume_same_result(spark, tmp_path, monkeypatch):
    """A job killed mid-CC must resume from the last completed
    iteration and produce the same assignment (idempotent re-run —
    the reference's 'already linked -> skip', src/actions.rs:70-80).
    Budget 0 keeps both passes on the star loop, so cc_iter_000
    exists."""
    monkeypatch.setattr(components, "_LOCAL_EDGE_BUDGET", 0)
    pairs = [("a", "b"), ("b", "c"), ("p", "q"), ("q", "r"), ("r", "s")]
    cfg = DedupConfig(checkpoint_dir=str(tmp_path / "cc"))
    first = _assign(connected_components(_edges(spark, pairs), cfg))

    # simulate a crash AFTER iteration 0: rewind the manifest
    manifest = Path(cfg.checkpoint_dir) / "cc_manifest.json"
    m = json.loads(manifest.read_text())
    assert m["converged"] is True
    manifest.write_text(json.dumps({"last_iteration": 0, "converged": False}))

    resumed = _assign(connected_components(_edges(spark, pairs), cfg))
    assert resumed == first

    # a fresh (non-checkpointed) run agrees too
    clean = _assign(connected_components(_edges(spark, pairs)))
    assert clean == first


def test_resume_finishes_locally_from_iteration_parquet(spark, tmp_path, monkeypatch):
    """A resumed run whose remaining edges fit the budget finishes in
    one task from the iteration parquet: the dense {a,b,c,d} part has 5
    canonical edges but 3 after round 0, and the local finish counts 3
    (plus the p-q edge). The manifest records the local finish."""
    pairs = [("a", "b"), ("a", "c"), ("b", "c"), ("b", "d"), ("c", "d"), ("p", "q")]
    cfg = DedupConfig(checkpoint_dir=str(tmp_path / "cc"))
    monkeypatch.setattr(components, "_LOCAL_EDGE_BUDGET", 0)
    star = _assign(connected_components(_edges(spark, pairs), cfg))
    manifest = Path(cfg.checkpoint_dir) / "cc_manifest.json"
    manifest.write_text(json.dumps({"last_iteration": 0, "converged": False}))

    monkeypatch.undo()
    m = StageMetrics("cc")
    resumed = _assign(connected_components(_edges(spark, pairs), cfg, m))
    assert resumed == star == {"a": "a", "b": "a", "c": "a", "d": "a", "p": "p", "q": "p"}
    assert not any(s.startswith("iter_") for s in _stages(m))
    assert [e["value"] for e in m.entries if e["stage"] == "local_finish_edges"] == [4]
    assert json.loads(manifest.read_text()) == {
        "local_finish": True, "edges": 4, "converged": True,
    }

    # a run that starts within the budget writes the same manifest shape
    clean = DedupConfig(checkpoint_dir=str(tmp_path / "fresh"))
    assert _assign(connected_components(_edges(spark, pairs), clean)) == star
    assert json.loads((Path(clean.checkpoint_dir) / "cc_manifest.json").read_text()) == {
        "local_finish": True, "edges": 6, "converged": True,
    }
