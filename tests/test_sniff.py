"""Magic-byte format sniffing tests — multimodal/sniff.py +
fixtures/images.py generate_sniff_corpus."""

from __future__ import annotations

import sys

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from dedup_spark.fixtures.images import _py_sniff, generate_sniff_corpus
from dedup_spark.fixtures.materialize import fixture_sniff_parquet
from dedup_spark.multimodal.sniff import format_sniff_report, sniffed_format

sys.path.insert(0, ".")

import __spark_entry__ as entrymod


def test_spark_sniff_matches_python_reference_on_fixture(spark):
    pdf = generate_sniff_corpus()
    df = spark.createDataFrame(
        pdf, "image_id string, bytes binary, fmt string, klass string, "
        "expected string"
    )
    got = {
        r["image_id"]: r["sniffed_fmt"]
        for r in df.select(
            "image_id", sniffed_format().alias("sniffed_fmt")
        ).collect()
    }
    for _, row in pdf.iterrows():
        assert got[row["image_id"]] == row["expected"], row["image_id"]


def test_class_contract(spark):
    pdf = generate_sniff_corpus()
    df = spark.createDataFrame(
        pdf, "image_id string, bytes binary, fmt string, klass string, "
        "expected string"
    )
    rep = format_sniff_report(df.drop("expected", "klass")).join(
        df.select("image_id", "klass"), on="image_id"
    )
    by_klass = {
        (r["klass"], r["matches"])
        for r in rep.select("klass", "matches").distinct().collect()
    }
    assert ("true", True) in by_klass and ("true", False) not in by_klass
    assert ("bmp", True) in by_klass and ("bmp", False) not in by_klass
    for k in ("mislabel", "riff_wave", "truncated", "garbage", "nullbytes"):
        assert (k, False) in by_klass and (k, True) not in by_klass
    # matches is total: never NULL
    assert rep.filter(F.col("matches").isNull()).count() == 0


HAND_MAGICS = [  # (id, payload, declared fmt, expected sniff)
    ("a", b"BM" + b"\x00" * 10, "bmp", "bmp"),
    ("b", b"RIFF" + b"\x24\x00\x00\x00" + b"WAVE" + b"\x00" * 4,
     "webp", "unknown"),
    ("c", b"RIFF" + b"\x24\x00\x00\x00" + b"WEBPVP8L", "webp", "webp"),
    ("d", b"\x89PNG\r\n\x1a\n" + b"\x00" * 8, "png", "png"),
    ("e", b"\xff\xd8\xff\xe0JFIF", "jpeg", "jpeg"),
    ("f", b"GIF89a\x01\x00\x01\x00", "gif", "gif"),
    ("g", b"GIF90a\x01\x00", "gif", "unknown"),  # bad version
    ("h", b"II*\x00\x08\x00\x00\x00", "tiff", "tiff"),
    ("i", b"MM\x00*\x00\x00\x00\x08", "tiff", "tiff"),
    ("j", b"P6\n2 2\n255\n" + b"\x00" * 12, "ppm", "ppm"),
    ("k", b"P6x not a ppm", "ppm", "unknown"),  # no whitespace
    ("n", b"P6\r\n2 2\r\n255\n" + b"\x00" * 12, "ppm", "ppm"),  # CR
    ("l", None, "png", "missing"),
    ("m", b"", "png", "unknown"),
]


def test_hand_pinned_magics(spark):
    df = spark.createDataFrame(
        [(i, b, f) for i, b, f, _ in HAND_MAGICS],
        "image_id string, bytes binary, fmt string",
    )
    got = {
        r["image_id"]: r["sniffed_fmt"]
        for r in format_sniff_report(df).collect()
    }
    for iid, data, _, want in HAND_MAGICS:
        assert got[iid] == want, (iid, got[iid], want)
        assert _py_sniff(data) == want, iid


def test_oracle_case_matches_hand_pinned_magics():
    # the DuckDB oracle's CASE is the third copy of the magic table
    hand = pd.DataFrame(
        [(i, b, f) for i, b, f, _ in HAND_MAGICS],
        columns=["image_id", "bytes", "fmt"],
    )
    sql = entrymod.oracle_sql()["format_sniff"].replace(
        f"read_parquet('{fixture_sniff_parquet()}')", "hand"
    )
    con = duckdb.connect()
    con.register("hand", hand)
    got = dict(con.sql(f"SELECT image_id, sniffed_fmt FROM ({sql})").fetchall())
    assert got == {i: want for i, _, _, want in HAND_MAGICS}
