"""Shared-patch (watermark family) mining tests — multimodal/patches.py."""

from __future__ import annotations

import numpy as np

from dedup_spark.fixtures.images import (
    _smooth_image,
    encode_ppm,
    generate_patch_corpus,
)
from dedup_spark.multimodal.patches import patch_signatures, shared_patch_pairs


def _df(spark, pdf):
    return spark.createDataFrame(
        pdf, "image_id string, logo string, bytes binary, w int, h int, "
        "fmt string, klass string"
    )


def test_planted_logo_pairs_and_misaligned_miss(spark):
    pdf = generate_patch_corpus()
    pairs = {
        (r["id1"], r["id2"]): r["n_shared"]
        for r in shared_patch_pairs(_df(spark, pdf).drop("logo", "klass")).collect()
    }
    a = sorted(pdf[pdf.klass == "aligned_a"].image_id)
    b = sorted(pdf[pdf.klass == "aligned_b"].image_id)
    want = {(x, y) for ids in (a, b) for i, x in enumerate(ids) for y in ids[i + 1 :]}
    assert set(pairs) == want
    assert all(v == 1 for v in pairs.values())
    # misaligned carriers never pair (the stride limitation, pinned)
    mis = set(pdf[pdf.klass == "misaligned"].image_id)
    assert not any(x in mis or y in mis for x, y in pairs)


def test_flat_patches_are_dropped(spark):
    # two images sharing ONLY a solid block must not pair: all-white, and
    # saturated pure red (its channels differ, so max != min, yet flat)
    import pandas as pd

    for fill in (255, (255, 0, 0)):
        base1 = _smooth_image(b"f1", 16, 16).copy()
        base2 = _smooth_image(b"f2", 16, 16).copy()
        base1[0:8, 0:8] = fill
        base2[8:16, 8:16] = fill
        rows = [("w1", None, encode_ppm(base1), 16, 16, "ppm", "x"),
                ("w2", None, encode_ppm(base2), 16, 16, "ppm", "x")]
        pdf = pd.DataFrame(rows, columns=["image_id", "logo", "bytes", "w", "h", "fmt", "klass"])
        df = _df(spark, pdf).drop("logo", "klass")
        assert shared_patch_pairs(df).collect() == [], fill
        sigs = patch_signatures(df).collect()
        # the flat blocks emitted no signature rows at their positions
        assert not any(
            r["py"] == 0 and r["px"] == 0 and r["image_id"] == "w1" for r in sigs
        ), fill


def test_template_posting_cap(spark):
    # a block shared by MORE than max_posting images is dropped
    blk = _smooth_image(b"tmpl", 8, 8)
    rows = []
    for i in range(5):
        base = _smooth_image(f"t{i}".encode(), 16, 8).copy()
        base[0:8, 0:8] = blk
        rows.append((f"t{i}", None, encode_ppm(base), 16, 8, "ppm", "x"))
    import pandas as pd
    pdf = pd.DataFrame(rows, columns=["image_id", "logo", "bytes", "w", "h", "fmt", "klass"])
    df = _df(spark, pdf).drop("logo", "klass")
    capped = shared_patch_pairs(df, max_posting=4).collect()
    assert capped == []  # 5 carriers > cap 4: template, dropped
    full = shared_patch_pairs(df, max_posting=256).collect()
    assert len(full) == 10  # C(5,2)
