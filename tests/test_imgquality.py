"""Image brightness/contrast curation tier — multimodal/decode.py
image_quality_report + fixtures/images.py generate_image_quality_corpus.

Pins: a hand-computed 2x2 image, exact-integer parity against an
independent per-pixel recompute over the defect fixture, full class
recovery (dark rows all-dark, bright rows all-blown, flat rows
zero-std, normal rows neither), and unreadable-row survival.
"""

from __future__ import annotations

import math
import sys

import duckdb
import numpy as np
import pandas as pd

from dedup_spark.fixtures.images import (
    LUMA_BRIGHT,
    LUMA_DARK,
    encode_ppm,
    generate_image_quality_corpus,
    luma1000,
)
from dedup_spark.fixtures.materialize import fixture_imgq_parquet
from dedup_spark.multimodal.decode import image_quality_report

sys.path.insert(0, ".")

import __spark_entry__ as entrymod


def _report(spark, pdf):
    df = spark.createDataFrame(
        pdf, schema="image_id string, bytes binary, fmt string"
    )
    return {r["image_id"]: r.asDict() for r in image_quality_report(df).collect()}


def test_hand_computed_2x2(spark):
    """luma of [[black, white], [mid, red]] computed by hand."""
    px = np.array(
        [[[0, 0, 0], [255, 255, 255]], [[100, 100, 100], [255, 0, 0]]],
        dtype=np.uint8,
    )
    lums = [0, 255_000, 100_000, 299 * 255]  # 76245 for pure red
    pdf = pd.DataFrame(
        [("x", encode_ppm(px), "ppm")], columns=["image_id", "bytes", "fmt"]
    )
    got = _report(spark, pdf)["x"]
    n, s = 4, sum(lums)
    ssq = sum(v * v for v in lums)
    assert got["n_px"] == 4
    assert got["mean_luma"] == math.floor(s / (n * 1000) * 1e6 + 0.5) / 1e6
    assert got["std_luma"] == math.floor(
        math.sqrt(float(n * ssq - s * s)) / (n * 1000.0) * 1e6 + 0.5
    ) / 1e6
    assert got["dark_ratio"] == 0.25  # only black is < 30000
    assert got["bright_ratio"] == 0.25  # only white is > 225000
    assert got["min_luma1000"] == 0 and got["max_luma1000"] == 255_000


def test_fixture_class_recovery(spark):
    corpus = generate_image_quality_corpus(n=24, seed=23)
    got = _report(spark, corpus[["image_id", "bytes", "fmt"]])
    for _, row in corpus.iterrows():
        g = got[row["image_id"]]
        assert g["ok"]
        if row["klass"] == "dark":
            assert g["dark_ratio"] == 1.0 and g["bright_ratio"] == 0.0
            assert g["max_luma1000"] < LUMA_DARK
        elif row["klass"] == "bright":
            assert g["bright_ratio"] == 1.0 and g["dark_ratio"] == 0.0
            assert g["min_luma1000"] > LUMA_BRIGHT
        elif row["klass"] == "flat":
            assert g["std_luma"] == 0.0
            assert g["min_luma1000"] == g["max_luma1000"]
        else:
            assert g["dark_ratio"] < 0.2 and g["bright_ratio"] < 0.2
            assert g["std_luma"] > 5.0


def test_exact_integer_parity_with_independent_recompute(spark):
    """Recompute every statistic from decoded pixels with independent
    plain-Python arithmetic (no shared helper) and require equality."""
    from dedup_spark.fixtures.images import decode_ppm

    corpus = generate_image_quality_corpus(n=12, seed=5)
    got = _report(spark, corpus[["image_id", "bytes", "fmt"]])
    for _, row in corpus.iterrows():
        lum = [
            299 * int(r) + 587 * int(g) + 114 * int(b)
            for r, g, b in decode_ppm(row["bytes"]).reshape(-1, 3)
        ]
        n = len(lum)
        s = sum(lum)
        ssq = sum(v * v for v in lum)
        g = got[row["image_id"]]
        assert g["n_px"] == n
        assert g["mean_luma"] == math.floor(s / (n * 1000) * 1e6 + 0.5) / 1e6
        assert g["std_luma"] == math.floor(
            math.sqrt(float(n * ssq - s * s)) / (n * 1000.0) * 1e6 + 0.5
        ) / 1e6
        assert g["dark_ratio"] == math.floor(
            sum(v < 30_000 for v in lum) / n * 1e6 + 0.5
        ) / 1e6
        assert g["min_luma1000"] == min(lum)
        assert g["max_luma1000"] == max(lum)


def test_unreadable_rows_survive(spark):
    pdf = pd.DataFrame(
        [
            ("good", encode_ppm(np.zeros((2, 2, 3), dtype=np.uint8)), "ppm"),
            ("trunc", b"P6\n2 2\n255\nxx", "ppm"),
            ("nullrow", None, "ppm"),
        ],
        columns=["image_id", "bytes", "fmt"],
    )
    got = _report(spark, pdf)
    assert got["good"]["ok"] and got["good"]["dark_ratio"] == 1.0
    assert not got["trunc"]["ok"] and got["trunc"]["n_px"] is None
    assert not got["nullrow"]["ok"]


def test_luma_helper_matches_definition():
    px = np.array([[[1, 2, 3], [250, 100, 7]]], dtype=np.uint8)
    lum = luma1000(px)
    assert lum[0, 0] == 299 * 1 + 587 * 2 + 114 * 3
    assert lum[0, 1] == 299 * 250 + 587 * 100 + 114 * 7


def test_oracle_matches_engine_past_1024_pixels(spark):
    """A 40x30 image (1,200 px): the DuckDB oracle rebuilds every
    pixel, not a capped prefix, and agrees with the engine."""
    px = np.random.default_rng(7).integers(0, 256, (30, 40, 3), dtype=np.uint8)
    pdf = pd.DataFrame(
        {"image_id": ["big"], "bytes": [encode_ppm(px)], "fmt": ["ppm"],
         "w": [40], "h": [30]}
    )
    sql = entrymod.oracle_sql()["image_quality_stats"].replace(
        f"read_parquet('{fixture_imgq_parquet()}')", "big"
    )
    con = duckdb.connect()
    con.register("big", pdf)
    rel = con.sql(sql)
    (row,) = rel.fetchall()
    got = dict(zip(rel.columns, row))
    want = _report(spark, pdf[["image_id", "bytes", "fmt"]])["big"]
    assert got["n_px"] == 1200
    assert got == {k: want[k] for k in got}
