"""Distributed suffix array over the caption/text corpus. [EXT]

The north rule names three near-dup tiers: MinHash, SimHash, and
*suffix-array substring*. `operators/suffix.py` ships the candidate-
economics equivalent (winnowed min-gram anchors + instr verify) and
`operators/spandedup.py` the fixed-k gram formulation of ExactSubstr;
this module ships the literal structure — a corpus-wide word-level
suffix array built by **prefix doubling expressed as Spark sorts**
(Manber & Myers 1990 ranks; the doubling formulation is the textbook
O(n log n) construction used by every distributed SA paper, e.g.
Flick & Aluru SC'15) — and the dedup application that motivates it
(Lee et al. 2022 ExactSubstr finds repeated spans via a suffix array
rather than materialized grams).

Why a suffix array at 100 TB when `spandedup.py` already finds
duplicated k-grams?  The gram formulation materializes a k-word
STRING per corpus position: at span threshold L the shuffle carries
O(corpus_tokens * L) bytes — fine at k=13, ruinous at the
thousand-character thresholds substring dedup wants for long
boilerplate.  Prefix doubling carries a constant-width (pos, rank,
rank2) triple per position per round — O(corpus_tokens * log L)
bytes total — and after round ceil(log2 L) the rank is a complete
equality witness for the L-word window.  log L sorts of fixed-width
longs is exactly the shape Spark's sort-based shuffle is best at.

Construction invariant (the standard one): after the round with gap
h, rank_h(doc, i) == rank_h(doc', i') iff the two suffixes agree on
their first min(h, remaining) words AND agree on whether they run
past the doc end inside the window (doc ends behave as distinct
sentinels smaller than every word, via the r2 = -1 convention).
Restricted to positions with a full L-word window this is exactly
"the L-word windows are equal", which is what the dedup tier needs;
unrestricted and doubled until ranks are distinct it is the
corpus-global suffix array (docs ordered as if concatenated with
unique end-sentinels; ties between byte-identical full suffixes in
different docs broken by (doc_id, pos)).

Scale shape per doubling round: one self-equi-join on (doc, pos+h)
(both sides hash-partition on the same key), one distinct over
(rank, r2) pairs, one range-partitioned two-pass dense rank (the
`ordering.py` idiom: per-partition counts -> driver prefix-sum of
n_partitions numbers -> broadcast offsets + per-partition window —
never a global-order single-partition window), one join back.  All
fixed-width columns; no UDFs anywhere in the loop.  Each round's
result is localCheckpointed: the next round consumes it twice (probe
+ successor side) and RangePartitioner sampling must not re-draw
between those two consumptions.  The cut is not lazy: under AQE the
``eager=False`` call runs the round's shuffles while the query is
built.

Reference parity: [EXT] generalized tier (SURVEY.md §2.3 "substring
containment"); the reference itself (src/grouping.rs) stops at
whole-file hashing — this is the sub-document generalization its
own README defers to "future work".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from dedup_spark.operators.banding import held_by_two_ids
from dedup_spark.operators.spandedup import _norm_tokens


def word_positions(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One row per corpus word occurrence: (id, pos, word, n_words),
    pos 1-based over the `_norm_tokens` stream (the exact token
    contract shared with spandedup/decontaminate, so the tiers agree
    on what a 'word' is). Empty/null docs contribute no rows."""
    toks = _norm_tokens(text_col)
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(toks).alias("pos0", "word"),
            F.size(toks).alias("n_words"),
        )
        .select(
            "id", (F.col("pos0") + 1).alias("pos"), "word", "n_words"
        )
    )


def _dense_ranks(
    keys: DataFrame, cols: list[str], out_col: str, n_parts: int = 32
) -> DataFrame:
    """Dense 0-based rank of every distinct `cols` combination in
    lexicographic order, WITHOUT a global-order window: range-
    partition the distinct keys (RangePartitioner keeps partition i's
    keys strictly below partition i+1's and co-locates equal keys),
    collect the n_parts partition row-counts (tiny driver action),
    prefix-sum them, broadcast the offsets back, and finish with a
    per-partition row_number. n_parts parallel sorts at any scale."""
    d = (
        keys.select(*cols)
        .distinct()
        .repartitionByRange(n_parts, *[F.col(c) for c in cols])
        .withColumn("_pid", F.spark_partition_id())
        # pin the sampled range bounds: _pid must not re-draw between
        # the count action and the final join
        .localCheckpoint(eager=False)
    )
    counts = {
        r["_pid"]: r["n"]
        for r in d.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = [], 0
    for p in range(max(counts, default=-1) + 1):
        offsets.append((p, acc))
        acc += counts.get(p, 0)
    off = F.broadcast(
        keys.sparkSession.createDataFrame(
            offsets or [(0, 0)], schema="_pid int, _off long"
        )
    )
    w = Window.partitionBy("_pid").orderBy(*cols)
    return (
        d.join(off, on="_pid")
        .withColumn(
            out_col,
            (F.row_number().over(w) - 1 + F.col("_off")).cast("long"),
        )
        .drop("_pid", "_off")
    )


# public name: the two-pass range-partitioned rank is a general
# building block (the SNM blocker reuses it), not suffix-array-private
dense_ranks = _dense_ranks


def prefix_doubling_ranks(
    positions: DataFrame,
    window: int | None = None,
    until_distinct: bool = False,
) -> DataFrame:
    """(id, pos, n_words, rank) with the invariant documented in the
    module header.  `window=L` (power of two) stops after the gap-L
    round — rank equality then witnesses L-word-window equality.
    `until_distinct=True` keeps doubling until every rank is unique
    (the full suffix array; bounded by ceil(log2 max_doc_len) + 1
    rounds, each checked with one cheap max-group-size aggregate)."""
    if window is not None and window & (window - 1):
        raise ValueError(f"window must be a power of two, got {window}")

    r0 = _dense_ranks(positions, ["word"], "rank")
    cur = (
        positions.join(r0, on="word")
        .select("id", "pos", "n_words", "rank")
        .localCheckpoint(eager=False)
    )
    # byte-identical full suffixes in DIFFERENT docs keep equal ranks
    # at every gap (both see r2 = -1 forever), so `until_distinct`
    # must also stop once the gap covers the longest doc — beyond
    # that, doubling is a fixed point (suffix_array() breaks the
    # remaining ties explicitly).
    max_len = None
    if until_distinct:
        row = cur.agg(F.max("n_words").alias("m")).collect()[0]
        max_len = row["m"] or 0
    h = 1
    while True:
        if window is not None and h >= window:
            break
        if until_distinct:
            if h >= max_len:
                break
            top = (
                cur.groupBy("rank")
                .agg(F.count(F.lit(1)).alias("n"))
                .agg(F.max("n").alias("m"))
                .collect()[0]["m"]
            )
            if top is None or top <= 1:
                break
        succ = cur.select(
            "id",
            (F.col("pos") - h).alias("pos"),
            F.col("rank").alias("r2"),
        )
        paired = (
            cur.join(succ, on=["id", "pos"], how="left")
            .withColumn("r2", F.coalesce("r2", F.lit(-1)))
        )
        rr = _dense_ranks(paired, ["rank", "r2"], "_nr")
        cur = (
            paired.join(rr, on=["rank", "r2"])
            .select("id", "pos", "n_words", F.col("_nr").alias("rank"))
            .localCheckpoint(eager=False)
        )
        h *= 2
    return cur


def suffix_array(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The corpus-global word-level suffix array: one row per suffix,
    (id, pos, sa_pos) with sa_pos the 0-based position of suffix
    (id, pos) in the global lexicographic suffix order (doc-end
    sentinels unique and smaller than every word; byte-identical full
    suffixes tie-broken by (id, pos) — documented determinism, not an
    ordering claim between them)."""
    ranks = prefix_doubling_ranks(
        word_positions(df, id_col, text_col), until_distinct=True
    )
    # ranks are already distinct per suffix EXCEPT byte-identical full
    # suffixes in different docs (no cross-doc sentinel distinguishes
    # them); finish with the documented (rank, id, pos) tie-break via
    # the same two-pass dense rank (keys are unique rows after it).
    sa = _dense_ranks(ranks, ["rank", "id", "pos"], "sa_pos")
    return (
        ranks.join(sa, on=["rank", "id", "pos"])
        .select("id", "pos", "sa_pos")
    )


def repeated_window_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 16,
) -> DataFrame:
    """Per-doc duplicated-span report at span threshold `window` words
    — the suffix-array formulation of the ExactSubstr signal: one row
    per input doc (docs shorter than the window report zero windows):

      n_windows            full L-word windows in the doc
      n_dup_windows        windows whose L-word sequence occurs >= 2
                           times anywhere in the corpus (self-overlap
                           and intra-doc repeats count, as in the SA
                           original)
      n_cross_doc_windows  dup windows shared with >= 2 distinct docs
      dup_window_fraction  round(n_dup_windows / n_windows, 6)

    Both group stats are windows over one ``partitionBy(rank)`` spec
    (one Window node): ``count(*)`` for the occurrences and
    ``banding.held_by_two_ids`` for the distinct docs, rolled up by
    one groupBy(id), so nothing joins back on rank. A rank held by a
    flood of windows sorts all of them in one task. Nothing in the
    job ever materializes an L-word string."""
    base = df.select(F.col(id_col).alias("id"))
    pos = word_positions(df, id_col, text_col)
    per_doc = (
        prefix_doubling_ranks(pos, window=window)
        .filter(F.col("pos") + window - 1 <= F.col("n_words"))
        .select(
            "id",
            (F.count(F.lit(1)).over(Window.partitionBy("rank")) >= 2)
            .cast("long")
            .alias("_dup"),
            held_by_two_ids(["rank"], "id").cast("long").alias("_cross"),
        )
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum("_dup").alias("n_dup_windows"),
            F.sum("_cross").alias("n_cross_doc_windows"),
        )
    )
    return (
        base.join(per_doc, on="id", how="left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_windows", F.lit(0)).cast("long").alias(
                "n_windows"
            ),
            F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias(
                "n_dup_windows"
            ),
            F.coalesce("n_cross_doc_windows", F.lit(0))
            .cast("long")
            .alias("n_cross_doc_windows"),
            F.round(
                F.when(
                    F.coalesce("n_windows", F.lit(0)) > 0,
                    F.coalesce("n_dup_windows", F.lit(0))
                    / F.col("n_windows"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_window_fraction"),
        )
    )
