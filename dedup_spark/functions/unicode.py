"""Unicode canonicalization — NFC normalization for text dedup.

Web text arrives in mixed normalization forms: 'café' as U+00E9
(precomposed) and as 'e'+U+0301 (combining acute) are byte-different,
hash-different strings that render identically — every exact-hash tier
(and every shingle of a near-dup tier) silently treats them as distinct
documents. Canonicalizing to NFC before hashing is the standard first
step of a text-dedup pipeline (Unicode Standard Annex #15).

Spark has no built-in normalizer, so this is one of the few legitimate
Python stages in the engine: a vectorized Arrow pandas_udf (never
row-at-a-time) applying stdlib `unicodedata.normalize`. The oracle side
(DuckDB `nfc_normalize`, ICU-backed) is an INDEPENDENT implementation
of UAX #15 — agreement between the two is a real cross-validation of
the canonicalization, not a self-check.

Reference parity: [EXT] LLM-pipeline surface (SURVEY.md §2.4); the
reference (denizariyan/dedup) hashes raw bytes and has no text layer.
"""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql import Window, functions as F


def nfc_normalize_udf() -> callable:
    """Factory for an Arrow-vectorized NFC normalizer (string → string,
    null-preserving)."""

    @F.pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        return s.map(
            lambda x: None if x is None else unicodedata.normalize("NFC", x)
        )

    return _nfc


def nfc_clusters(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """(id, cluster_id, changed): cluster rows whose NFC-normalized
    text is identical — the docs exact byte-hash dedup misses because
    they differ only in normalization form. `changed` marks rows the
    normalizer actually rewrote. Scale shape: one Arrow projection,
    then one window partitioned by md5(normalized) (a 32-char key,
    never the text itself, in the exchange) gives each row its
    cluster's min id — no aggregate, no join back. A null text is no
    text: its row is dropped."""
    # filtered on the input column, not on ``_nfc``: a filter on the
    # UDF column is pushed below its projection and evaluates the UDF
    # twice (tests/test_udf_once.py)
    normed = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.col(text_col),
        nfc_normalize_udf()(F.col(text_col)).alias("_nfc"),
    )
    keyed = normed.select(
        id_col,
        F.md5(F.col("_nfc")).alias("_key"),
        (F.col("_nfc") != F.col(text_col)).alias("changed"),
    )
    return keyed.select(
        id_col,
        F.min(id_col).over(Window.partitionBy("_key")).alias("cluster_id"),
        "changed",
    )
