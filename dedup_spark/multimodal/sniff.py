"""Magic-byte format sniffing — the ingest audit that runs BEFORE any
decode tier: does the payload's container magic agree with the declared
``fmt`` column? Real crawls are full of lying extensions (a .png that
is a JPEG, a .webp that is a WAV RIFF, truncated fetches); routing a
payload to the wrong decoder wastes the most expensive stage of the
pipeline, so every production ingest sniffs first.

The whole check is ONE whole-stage-codegen projection over the first
12 bytes: ``hex(substring(bytes, 1, 12))`` prefix-matched against the
published magics (PNG: 89504E470D0A1A0A; JPEG: FFD8FF; GIF87a/89a;
TIFF II*\\0 / MM\\0*; WEBP: RIFF @0 + WEBP @8 — both fields, a WAV is
not a WebP; PPM: "P6" + whitespace; BMP: "BM"). No Python touches a
byte, nothing shuffles — at 100 TB this is a pushed-down scan +
projection whose cost is reading 12 bytes per row (columnar readers
still fetch the page, but the CPU side is 8 string prefix compares).

Analog in the reference: the scanner trusts file extension/size and
lets the hash stage surface corruption (src/scanner.rs:1-120); at
web scale the audit must be explicit and earlier."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def sniffed_format(bytes_col: str = "bytes") -> Column:
    """String column: detected container format of ``bytes_col`` from
    its magic prefix — 'png' | 'jpeg' | 'gif' | 'tiff' | 'webp' |
    'ppm' | 'bmp' | 'unknown', 'missing' for NULL payloads (the
    column is total — no NULLs — so downstream counts need no
    three-valued logic). Must mirror
    fixtures/images.py::_py_sniff (tests pin the parity)."""
    b = F.col(bytes_col)
    hx = F.hex(F.substring(b, 1, 12))  # uppercase in Spark AND DuckDB

    def p(prefix: str) -> Column:
        return hx.startswith(prefix)

    return (
        F.when(b.isNull(), F.lit("missing"))
        .when(p("89504E470D0A1A0A"), F.lit("png"))
        .when(p("FFD8FF"), F.lit("jpeg"))
        .when(p("474946383761") | p("474946383961"), F.lit("gif"))
        .when(p("49492A00") | p("4D4D002A"), F.lit("tiff"))
        .when(
            p("52494646") & (F.substring(hx, 17, 8) == F.lit("57454250")),
            F.lit("webp"),
        )
        .when(
            p("50360A") | p("503620") | p("503609") | p("50360D"),
            F.lit("ppm"),
        )
        .when(p("424D"), F.lit("bmp"))
        .otherwise(F.lit("unknown"))
    )


def format_sniff_report(
    df: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
) -> DataFrame:
    """(id, fmt, sniffed_fmt, matches) per row: declared vs detected
    format. ``matches`` is false on any lie (mislabel, truncation,
    garbage, wrong RIFF, missing payload), true only when magic and
    declaration agree — never NULL."""
    sniff = sniffed_format(bytes_col)
    return df.select(
        id_col,
        F.col(fmt_col).alias("fmt"),
        sniff.alias("sniffed_fmt"),
        (F.col(fmt_col) == sniff).alias("matches"),
    )
