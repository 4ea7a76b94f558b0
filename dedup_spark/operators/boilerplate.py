"""Cross-document boilerplate-segment removal (CCNet-style).

Web-scale training corpora are full of boilerplate: navigation chrome,
cookie banners, license footers — text that repeats VERBATIM across
many documents without the documents being near-duplicates of each
other. CCNet (Wenzek et al., 2020) removes it by hashing paragraphs
and dropping any paragraph seen in multiple documents; Gopher/RefinedWeb
use the same shape at line granularity. None of the near-dup tiers
(MinHash/SimHash/containment) catch this: a 5% shared footer never
pushes whole-document Jaccard over any sane threshold.

This operator is that pass, re-expressed for Spark:

  1. segment each document into consecutive non-overlapping
     ``seg_tokens``-token windows (the corpus here is single-line, so
     fixed token windows stand in for paragraphs; with real newline-
     delimited text pass a custom ``segment_expr``),
  2. shuffle once on the segment string and flag each segment row
     whose segment is held by >= 2 distinct documents (one window,
     ``banding.held_by_two_ids``: min doc id < max doc id, so a
     segment repeated inside ONE document is never boilerplate),
  3. aggregate the flagged rows per document: how many segments are
     boilerplate and how many tokens the cleaned document keeps.

Everything is built-in expressions (split / slice / concat_ws /
posexplode) — JVM-side, whole-stage codegen, no Python in the plan.

Scale notes: the wide exchanges are (a) the window's shuffle on the
segment string and (b) the groupBy(doc_id) rollup. A footer shared by
10^9 documents sorts all its rows in one task. On 200k documents that
share one 4-token header, each with 8 unique segments (4 CPUs, 4 runs),
the window ran in 7.9-16.1 s against 13.4-23.7 s for a distinct +
aggregate + join-back form of the same test.

Reference analog: none — the reference (denizariyan/dedup) groups
whole files by content hash (src/main.rs grouping cascade); segment-
level cross-doc dedup is part of this engine's generalized LLM-data
surface (SURVEY.md §2.3 EXT).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dedup_spark.functions.text import tokens
from dedup_spark.operators.banding import held_by_two_ids


def segment_docs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_tokens: int = 4,
) -> DataFrame:
    """(id, seg_idx, seg) rows: consecutive non-overlapping
    ``seg_tokens``-token windows, 1-based seg_idx, trailing partial
    window dropped (kept in the token budget by the caller). Documents
    shorter than one window emit no rows — ``boilerplate_stats`` left-
    joins them back. ``F.sequence(1, n)`` would generate a DESCENDING
    [1, 0] for n=0, so the empty case is guarded explicitly."""
    toks = tokens(F.col(text_col))
    n_seg = F.floor(F.size(toks) / seg_tokens).cast("int")
    idxs = F.when(n_seg >= 1, F.sequence(F.lit(1), n_seg)).otherwise(
        F.array().cast("array<int>")
    )
    segs = F.transform(
        idxs,
        lambda i: F.concat_ws(" ", F.slice(toks, (i - 1) * seg_tokens + 1, seg_tokens)),
    )
    return df.select(
        F.col(id_col), F.posexplode(segs).alias("_p", "seg")
    ).select(id_col, (F.col("_p") + 1).alias("seg_idx"), "seg")


def boilerplate_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_tokens: int = 4,
) -> DataFrame:
    """Per-document boilerplate summary:

      n_segments    full windows in the document
      n_boilerplate windows shared with at least one other document
      kept_tokens   tokens after dropping boilerplate windows
                    (non-boilerplate windows + the partial tail window)

    All counts BIGINT for oracle parity.
    """
    per_doc = (
        segment_docs(df, id_col, text_col, seg_tokens)
        .select(id_col, held_by_two_ids(["seg"], id_col).alias("_bp"))
        .filter("_bp")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("_n_bp"))
    )
    n_tok = F.size(tokens(F.col(text_col)))
    base = df.select(
        id_col,
        F.floor(n_tok / seg_tokens).cast("long").alias("n_segments"),
        n_tok.cast("long").alias("_n_tok"),
    )
    return (
        base.join(per_doc, on=id_col, how="left")
        .select(
            id_col,
            "n_segments",
            F.coalesce(F.col("_n_bp"), F.lit(0)).cast("long").alias("n_boilerplate"),
            (
                F.col("_n_tok")
                - F.coalesce(F.col("_n_bp"), F.lit(0)) * seg_tokens
            )
            .cast("long")
            .alias("kept_tokens"),
        )
    )
