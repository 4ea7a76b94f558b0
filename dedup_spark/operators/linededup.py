"""Global line-level exact dedup (first-carrier-wins excision).

The public recipe (C4 / Raffel et al. 2020 "three-sentence span"
dedup; RefinedWeb / Penedo et al. 2023 and Dolma's exact *line* dedup):
a line that occurs anywhere else in the corpus is kept ONLY at its
first occurrence and excised everywhere else — the navigation-chrome /
boilerplate killer that whole-document dedup cannot touch (two pages
sharing a footer are NOT near-duplicates, yet the footer must go).

"First" needs a global order, which remove-all span excision
(`spandedup.py`) deliberately avoids; here the order is the cheap,
deterministic (doc_id, line_no) lexicographic carrier — computed as
ONE map-side-combinable min(struct) per distinct line, NOT a global
sort. That is the whole distributed trick:

  * explode documents into (doc_id, line_no, line) — linear, no
    shuffle;
  * group by md5(line) computing min(struct(doc_id, line_no)) — the
    only aggregate exchange, and column pruning keeps the line TEXT
    out of it (the 128-bit hash + two longs travel, plan-audited);
  * join the occurrences back on the hash (one shuffle of the line
    text, hash-partitioned so line-frequency skew is AQE-splittable)
    and keep an occurrence iff it IS the carrier;
  * per-document reassembly is a collect_list bounded by document
    length — kept lines rejoin in line_no order.

md5 (128-bit) rather than xxhash64 because at 10^12 lines a 64-bit
key space is birthday-bound (~2^40 lines -> collisions certain) and a
collision here SILENTLY DROPS a unique line; 2^128 is not reachable.

Fixture corpora are single-line word soup, so the "line" boundary is
synthesized deterministically: consecutive fixed-width token windows
(`width` tokens, last window ragged) over the same normalized token
stream every text tier uses — the operator is agnostic to how lines
were split.

Reference parity: [EXT] LLM-pipeline surface (SURVEY.md §2.4); no
reference counterpart — the reference (src/main.rs) dedups whole
files; this is the sub-document line-granularity stage between
whole-doc exact dedup and span excision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dedup_spark.functions.text import tokens


def split_token_lines(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 6,
) -> DataFrame:
    """Explode documents into fixed-width token lines.

    Returns (id_col, line_no, line): 0-based line_no, each line the
    space-rejoin of `width` consecutive normalized tokens (the final
    line keeps the ragged tail). Null / whitespace-only documents
    produce no rows.
    """
    toks = tokens(F.col(text_col))
    n_lines = F.ceil(F.size(toks) / F.lit(float(width))).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - F.lit(1)),
        lambda i: F.concat_ws(
            " ", F.slice(toks, i * F.lit(width) + F.lit(1), width)
        ),
    )
    return (
        docs.filter(
            F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
        )
        .select(id_col, F.posexplode(lines).alias("line_no", "line"))
        .withColumn("line_no", F.col("line_no").cast("long"))
    )


def first_carrier_lines(lines: DataFrame, *, id_col: str = "doc_id") -> DataFrame:
    """Tag every line occurrence with whether it is the corpus-global
    first carrier of its content.

    Input: (id_col, line_no, line). Output adds `kept` — true iff
    (id_col, line_no) equals the global min(struct(id, line_no)) over
    all occurrences of the identical line. The aggregate shuffles only
    (md5, id, line_no); the join back is the single text shuffle.
    """
    hashed = lines.withColumn("_h", F.md5(F.col("line")))
    carriers = hashed.groupBy("_h").agg(
        F.min(F.struct(id_col, "line_no")).alias("_first")
    )
    return (
        hashed.join(carriers, "_h")
        .withColumn(
            "kept",
            (F.col(id_col) == F.col(f"_first.{id_col}"))
            & (F.col("line_no") == F.col("_first.line_no")),
        )
        .drop("_h", "_first")
    )


def line_dedup_report(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 6,
) -> DataFrame:
    """Per-document line-dedup report: (id, n_lines, n_kept,
    kept_ratio, kept_text_md5).

    kept_text_md5 fingerprints the RECONSTRUCTED document (kept lines
    rejoined in line_no order with single spaces) so the gate proves
    exact reassembly, not just counts; NULL when every line was
    excised. kept_ratio is round(n_kept / n_lines, 6).
    """
    tagged = first_carrier_lines(
        split_token_lines(docs, id_col=id_col, text_col=text_col, width=width),
        id_col=id_col,
    )
    kept_struct = F.when(F.col("kept"), F.struct("line_no", "line"))
    agg = tagged.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.col("kept").cast("long")).cast("long").alias("n_kept"),
        F.array_sort(F.collect_list(kept_struct)).alias("_kept"),
    )
    kept_text = F.concat_ws(
        " ", F.transform(F.col("_kept"), lambda s: s["line"])
    )
    return agg.select(
        id_col,
        "n_lines",
        "n_kept",
        F.round(F.col("n_kept") / F.col("n_lines"), 6).alias("kept_ratio"),
        F.when(F.col("n_kept") > 0, F.md5(kept_text)).alias("kept_text_md5"),
    )
