"""Bigram language-model perplexity scoring (CCNet-style quality filter).

The public recipe (CCNet, Wenzek et al. 2020; reused by LLaMA/RedPajama
data pipelines): score every document's perplexity under a language
model trained on a trusted reference corpus and filter/bucket on it —
gibberish and boilerplate score high, natural prose low. CCNet uses a
KenLM 5-gram over Wikipedia; this is the same statistic with an
add-one-smoothed bigram LM trained on a reference SPLIT of the corpus
itself (no external data in this sandbox), which keeps every moving
part — counting, smoothing, backoff for unseen histories, the
log-sum — real.

Model: P(w2 | w1) = (c(w1,w2) + 1) / (c(w1) + V), with c(w1) the
HISTORY count (sum of bigram counts starting at w1, so the model is
self-consistent: sum_w2 P(w2|w1) = 1) and V the training vocabulary
size; an unseen history backs off to the uniform 1/V.

Scale shape: training is two map-side-combinable aggregations (bigram
counts, then history counts derived FROM them) plus one distinct-count
for V; scoring is two hash joins (on (w1,w2), then w1 — stopword
histories are the skew tail, AQE-splittable) and one combinable
per-doc sum. V travels as a broadcast 1-row scalar. Nothing is
quadratic; no Python.

Cross-engine float determinism (the oracle gate must match the value
HASH, not approximately): each per-bigram negative log term is
round(-ln(p) * 1e6) as BIGINT and the per-doc aggregation sums those
integers EXACTLY, so the result is independent of Spark's (and
DuckDB's) float summation order. p itself is a single IEEE division of
exact integers — bit-identical in both engines; ln/exp are evaluated
once on identical doubles.

Reference parity: [EXT] LLM-pipeline surface (SURVEY.md §2.4); no
reference counterpart (the reference dedups files; this is the
model-based quality tier next to `model_quality_filter`'s linear
scorer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dedup_spark.functions.text import tokens

NLL_SCALE = 1_000_000  # 6-dp fixed-point for order-free exact sums


def _bigrams(df: DataFrame, id_col: str | None) -> DataFrame:
    """Explode (w1, w2) consecutive-token pairs; docs with < 2 tokens
    contribute nothing."""
    toks = tokens(F.col("text"))
    n = F.size(toks)
    pairs = F.arrays_zip(
        F.slice(toks, 1, n - 1).alias("w1"),
        F.slice(toks, 2, n - 1).alias("w2"),
    )
    cols = ([id_col] if id_col else []) + [F.explode(pairs).alias("_bg")]
    return (
        df.filter(
            F.col("text").isNotNull()
            & (F.trim(F.col("text")) != "")
            & (n >= 2)
        )
        .select(*cols)
        .select(
            *([id_col] if id_col else []),
            F.col("_bg.w1").alias("w1"),
            F.col("_bg.w2").alias("w2"),
        )
    )


def train_bigram_lm(train: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Fit the add-one bigram model on `train` (docs with a `text`
    column). Returns (bigram_counts(w1,w2,c12), history_counts(w1,c1),
    vocab_size 1-row frame (v))."""
    bg = _bigrams(train, None)
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    toks = train.filter(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    ).select(F.explode(tokens(F.col("text"))).alias("t"))
    # two-stage exact distinct (groupBy then count) — no Expand
    v = toks.groupBy("t").agg(F.lit(1)).agg(
        F.count(F.lit(1)).cast("long").alias("v")
    )
    return c12, c1, v


def perplexity_report(
    train: DataFrame, score: DataFrame, *, id_col: str = "doc_id"
) -> DataFrame:
    """Per-document perplexity of `score` docs under the bigram LM fit
    on `train`: (id, n_bigrams, avg_nll, ppl). avg_nll is the exact
    integer-summed mean of the 6-dp-rounded per-bigram -ln P terms;
    ppl = exp(avg_nll), both rounded to 6 dp."""
    c12, c1, v = train_bigram_lm(train)
    sb = _bigrams(score, id_col)
    p = (
        sb.join(c12, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .crossJoin(F.broadcast(v))
        .withColumn(
            "_p",
            F.when(
                F.col("c1").isNull(),
                F.lit(1.0) / F.col("v").cast("double"),
            ).otherwise(
                (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(1)).cast("double")
                / (F.col("c1") + F.col("v")).cast("double")
            ),
        )
        .withColumn(
            "_t",
            F.round(-F.log(F.col("_p")) * NLL_SCALE).cast("long"),
        )
    )
    agg = p.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("_t").cast("long").alias("_s"),
    )
    avg = F.col("_s") / F.lit(float(NLL_SCALE)) / F.col("n_bigrams")
    return agg.select(
        id_col,
        "n_bigrams",
        F.round(avg, 6).alias("avg_nll"),
        F.round(F.exp(avg), 6).alias("ppl"),
    )
