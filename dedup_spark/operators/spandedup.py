"""Exact duplicated-span excision (ExactSubstr-style corpus cleaning).

The public recipe (Lee et al. 2022, "Deduplicating Training Data Makes
Language Models Better", the `deduplicate-text-datasets` ExactSubstr
tool): find text spans repeated verbatim across the corpus and CUT THEM
OUT of the documents, rather than dropping whole documents. This module
is the word-k-gram formulation of that stage:

  * a word-k-gram is *duplicated* iff it occurs in >= 2 DISTINCT
    documents (cross-document sharing; intra-doc repeats are the
    `repetition_stats` Gopher tier's job);
  * every occurrence of a duplicated gram covers word positions
    [pos, pos+k-1]; a document's covered set is the UNION of its
    covered occurrences (overlapping shared spans merge naturally);
  * the cleaned document is the uncovered tokens rejoined with single
    spaces (output is over the normalized lowercase token stream —
    the normalization of `functions.text.tokens`, the decontamination
    tier's tokenizer).

Two deliberate deviations from the suffix-array original, both chosen
FOR the distributed setting and documented here:

  * word-k-grams instead of a corpus-global suffix array: the suffix
    array needs a corpus-order global structure; the gram formulation
    is one window over the grams, embarrassingly data-parallel, and
    for spans >= k words the two definitions flag the same text (any
    repeated span of w >= k words contains w-k+1 repeated k-grams
    that reconstruct exactly that span's coverage).
  * EVERY occurrence of a shared span is excised (not "keep the first,
    cut the rest"): keep-first needs a global document order, which is
    exactly what a 10^12-row corpus cannot give cheaply; remove-all is
    order-independent, so the output is deterministic under any
    partitioning and the job is restartable per-partition.

Scale shape: occurrences are linear in corpus tokens; a gram is
flagged duplicated by one window over its occurrences
(``banding.held_by_two_ids``: min doc id < max doc id), so no gram
set is aggregated and joined back; per-doc coverage union is a
collect_set bounded by document length. A gram held by a flood of
documents sorts all its occurrences in one task; on 200k documents
sharing one 4-token header (k=4, 8 unique segments each; 4 CPUs) the
window ran in 11.2-13.9 s against 17.7-21.4 s for a distinct +
aggregate + join-back form (4 runs a side). At 100 TB the gram string
would be xxhash64-dictionary-coded with identical semantics — a
collision only ever ADDS coverage, conservative for cleaning.

Reference parity: [EXT] LLM-pipeline surface (SURVEY.md §2.4); no
reference counterpart — the reference (src/main.rs) is whole-file
exact dedup; this is the sub-document-granularity generalization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dedup_spark.operators.banding import held_by_two_ids


def _norm_tokens(text_col: str) -> F.Column:
    """Normalized token array; empty array (never ['']) for null /
    whitespace-only text, so size() is the true word count."""
    t = F.trim(F.coalesce(F.col(text_col), F.lit("")))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(F.lower(t), r"\s+")
    )


def duplicated_span_excision(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 13,
) -> DataFrame:
    """One row per input doc: (id, n_words, n_covered, dup_fraction,
    cleaned_text). dup_fraction = round(n_covered / n_words, 6)
    (0.0 for empty docs); cleaned_text = uncovered tokens joined by
    single spaces ('' when fully covered or empty)."""
    base = df.select(F.col(id_col), _norm_tokens(text_col).alias("toks"))

    # (id, pos, gram): every word-k-gram occurrence with its 1-based
    # start position. JVM built-ins only (sequence/slice/concat_ws).
    grams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - F.lit(k - 1)),
        lambda i: F.struct(
            i.alias("pos"),
            F.concat_ws(" ", F.slice(F.col("toks"), i, k)).alias("gram"),
        ),
    )
    occ = (
        base.filter(F.size("toks") >= k)
        .select(id_col, F.explode(grams).alias("g"))
        .select(id_col, F.col("g.pos").alias("pos"), F.col("g.gram").alias("gram"))
    )

    # Covered word positions per doc: union of [pos, pos+k-1] over the
    # occurrences of grams held by >= 2 distinct docs (one window on
    # gram; distinct collapses the overlap).
    cov = (
        occ.select(id_col, "pos", held_by_two_ids(["gram"], id_col).alias("_dup"))
        .filter("_dup")
        .select(
            id_col,
            F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))).alias(
                "wpos"
            ),
        )
        .distinct()
        .groupBy(id_col)
        .agg(F.collect_set("wpos").alias("cov_set"))
    )

    joined = base.join(cov, id_col, "left").withColumn(
        "cov_set", F.coalesce(F.col("cov_set"), F.array().cast("array<int>"))
    )
    n_words = F.size("toks").cast("long")
    n_cov = F.size("cov_set").cast("long")
    return joined.select(
        F.col(id_col),
        n_words.alias("n_words"),
        n_cov.alias("n_covered"),
        F.round(
            F.when(n_words == 0, F.lit(0.0)).otherwise(n_cov / n_words), 6
        ).alias("dup_fraction"),
        F.concat_ws(
            " ",
            F.filter(
                F.col("toks"),
                lambda w, i: ~F.array_contains(F.col("cov_set"), i + F.lit(1)),
            ),
        ).alias("cleaned_text"),
    )
