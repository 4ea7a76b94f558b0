"""Plan shape of the image signature tiers and the single-image stages:
every one decodes in one ``image_signatures`` stage fed only
(id, bytes, fmt[, extra]), and no binary column reaches an Exchange of
a tier's clustered output."""

from __future__ import annotations

import numpy as np
import pytest

from dedup_spark.fixtures.images import encode_ppm
from dedup_spark.multimodal import crop, decode, dhash, exif, patches, rotinv

# (tier, clustered output of the tier, expected MapInPandas input)
TIERS = [
    (
        "pixel_sha",
        lambda df: decode.signature_clusters(decode.pixel_sha(df), "pixel_sha"),
        ["image_id", "bytes", "fmt"],
    ),
    ("thumbprint", decode.thumbprint_clusters, ["image_id", "bytes", "fmt"]),
    ("border_trim", crop.border_trim_clusters, ["image_id", "bytes", "fmt"]),
    ("dhash", dhash.dhash_clusters, ["image_id", "bytes", "fmt"]),
    ("rotation", rotinv.rotation_invariant_clusters, ["image_id", "bytes", "fmt"]),
    (
        "orientation",
        exif.orientation_normalized_clusters,
        ["image_id", "bytes", "fmt", "orientation"],
    ),
]


def _nodes(plan):
    yield plan
    children = plan.children()
    for i in range(children.size()):
        yield from _nodes(children.apply(i))


def _names(plan) -> list[str]:
    return [f.name() for f in plan.schema().fields()]


def _has_binary(plan) -> bool:
    return any(
        f.dataType().typeName() == "binary" for f in plan.schema().fields()
    )


# (stage, output of the stage): single-image stages with no binary output
STAGES = [
    ("features", decode.extract_image_features),
    ("quality", decode.image_quality_report),
    ("lossy_roundtrip", decode.lossy_roundtrip_fidelity),
    ("patches", patches.patch_signatures),
]


def _signature_stage(spark, monkeypatch, name, fn, feed):
    """(output of ``fn``, executed plan of its one ``image_signatures``
    stage), after checking that stage is fed exactly ``feed``."""
    px = np.arange(10 * 9 * 3, dtype=np.uint8).reshape(10, 9, 3)
    # payload-heavy input with columns the stages must prune away
    df = spark.createDataFrame(
        [("a", "s", encode_ppm(px), 9, 10, "ppm", 1, "caption")],
        "image_id string, src_id string, bytes binary, w int, h int, "
        "fmt string, orientation int, caption string",
    )
    stages = []
    real = decode.image_signatures

    def spy(*args, **kwargs):
        stages.append(real(*args, **kwargs))
        return stages[-1]

    for mod in (decode, crop, dhash, exif, patches, rotinv):
        monkeypatch.setattr(mod, "image_signatures", spy)
    out = fn(df)
    assert len(stages) == 1, name

    sig_plan = stages[0]._jdf.queryExecution().executedPlan()
    mips = [n for n in _nodes(sig_plan) if n.nodeName() == "MapInPandas"]
    assert len(mips) == 1, name
    assert _names(mips[0].children().apply(0)) == feed, name
    return out, sig_plan


@pytest.mark.parametrize("name,stage", STAGES, ids=[s[0] for s in STAGES])
def test_single_image_stage_feed(no_aqe, monkeypatch, name, stage):
    out, _ = _signature_stage(
        no_aqe, monkeypatch, name, stage, ["image_id", "bytes", "fmt"]
    )
    plan = out._jdf.queryExecution().executedPlan()
    assert not _has_binary(plan), name
    assert not any("Exchange" in n.nodeName() for n in _nodes(plan)), name


@pytest.mark.parametrize("name,tier,feed", TIERS, ids=[t[0] for t in TIERS])
def test_signature_tier_plan_shape(no_aqe, monkeypatch, name, tier, feed):
    out, sig_plan = _signature_stage(no_aqe, monkeypatch, name, tier, feed)

    # the clustered plan is cut at the lineage checkpoint, so the
    # signature stage's own plan is checked too
    out_plan = out._jdf.queryExecution().executedPlan()
    exchanges = [
        n for plan in (sig_plan, out_plan) for n in _nodes(plan)
        if "Exchange" in n.nodeName()
    ]
    assert exchanges, name  # the groupBy must shuffle, or this is vacuous
    assert not any(_has_binary(n) for n in exchanges), name
    assert _names(out_plan) == ["image_id", "ok", "cluster_id"]
