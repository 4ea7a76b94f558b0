"""Each pandas UDF runs once per row: no executed plan of a UDF-fed
operator holds the same Python UDF in two eval nodes, nor the same
``mapInPandas`` function in two ``MapInPandas`` nodes.

A ``filter(isNotNull)`` on an aliased UDF column is pushed below its
projection, and a ``posexplode`` of an aliased UDF column gets an
inferred not-null filter; either way Spark evaluates the UDF twice and
starts a second Python worker per task. A plan cut by a
``localCheckpoint`` is checked on both sides of the cut. AQE is off so
the static plan shows exchange reuse: a subtree read by several
consumers appears once, the others as ``ReusedExchange``."""

from __future__ import annotations

from collections import Counter

import pytest

from dedup_spark.fixtures.images import generate_corpus, to_spark
from dedup_spark.fixtures.materialize import fixture_parquet
from dedup_spark.functions.unicode import nfc_clusters
from dedup_spark.multimodal.avi import avi_frame_signatures
from dedup_spark.multimodal.patches import shared_patch_pairs
from dedup_spark.multimodal.rotinv import verified_rotation_pairs
from dedup_spark.multimodal.video import signature_set_pairs
from dedup_spark.operators.minhash import band_candidates, minhash_near_duplicates
from dedup_spark.operators.suffix import (
    char_substring_pairs,
    containment_pairs,
    exact_jaccard_pairs,
)
from dedup_spark.pipeline import dedup_pipeline
from dedup_spark.streaming.fuzzy import fuzzy_process_batch

_TEXTS = [
    "the quick brown fox jumps over the lazy dog again",
    "the quick brown fox jumps over the lazy dog again and again",
    "a completely different sentence about spark plans",
    "a completely different sentence about spark plans",
    "short",
    None,
]


def _docs(spark):
    return spark.createDataFrame(
        list(enumerate(_TEXTS)), "doc_id long, text string"
    )


def _images(spark):
    return to_spark(
        spark, generate_corpus(30, dup_ratio=0.3, near_dup_ratio=0.2, seed=5)
    )[0]


SITES = {
    "band_candidates": lambda s, d: band_candidates(_docs(s), "doc_id", "text"),
    "minhash_near_duplicates": lambda s, d: minhash_near_duplicates(
        _docs(s), "doc_id", "text"
    ),
    "containment_pairs": lambda s, d: containment_pairs(_docs(s), "doc_id", "text"),
    "exact_jaccard_pairs": lambda s, d: exact_jaccard_pairs(
        _docs(s), "doc_id", "text"
    ),
    "char_substring_pairs": lambda s, d: char_substring_pairs(
        _docs(s), "doc_id", "text", k=8
    ),
    "nfc_clusters": lambda s, d: nfc_clusters(_docs(s)),
    "shared_patch_pairs": lambda s, d: shared_patch_pairs(_images(s)),
    "verified_rotation_pairs": lambda s, d: verified_rotation_pairs(_images(s)),
    # the rawv tier's frame signatures are JVM-only; the AVI tier runs
    # the same capped pair stage over a mapInPandas
    "signature_set_pairs": lambda s, d: signature_set_pairs(
        avi_frame_signatures(s.read.parquet(fixture_parquet("avi")), every_n=2)
    ),
    "fuzzy_process_batch": lambda s, d: fuzzy_process_batch(
        s, _docs(s), str(d / "state"), str(d / "out")
    ),
    "dedup_pipeline": lambda s, d: dedup_pipeline(_images(s)),
}


def _nodes(plan):
    yield plan
    children = plan.children()
    for i in range(children.size()):
        yield from _nodes(children.apply(i))


def _python_udfs(plan) -> list[str]:
    names = []
    for node in _nodes(plan):
        if node.nodeName() in ("ArrowEvalPython", "BatchEvalPython"):
            udfs = node.udfs()
            names += [udfs.apply(i).name() for i in range(udfs.size())]
        elif node.nodeName() == "MapInPandas":
            names.append(node.func().name())
    return names


@pytest.mark.parametrize("site", list(SITES))
def test_each_udf_runs_once_per_plan(no_aqe, monkeypatch, tmp_path, site):
    plans = []
    frame = type(no_aqe.range(1))
    real = frame.localCheckpoint

    def spy(self, eager=True):
        plans.append(self._jdf.queryExecution().executedPlan())
        return real(self, eager)

    monkeypatch.setattr(frame, "localCheckpoint", spy)
    out = SITES[site](no_aqe, tmp_path)
    if out is not None:
        plans.append(out._jdf.queryExecution().executedPlan())
    per_plan = [Counter(_python_udfs(p)) for p in plans]
    assert any(per_plan), site  # a plan with no UDF proves nothing
    twice = [c for c in per_plan if any(n > 1 for n in c.values())]
    assert not twice, (site, twice)
