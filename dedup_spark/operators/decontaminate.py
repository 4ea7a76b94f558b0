"""Benchmark decontamination — eval-set n-gram overlap removal.

A training corpus must not contain the eval benchmarks it will be
measured on; the standard recipe (public: GPT-3 Appendix C, FineWeb /
Dolma decontamination) flags every training document that shares at
least one word-N-gram (N=13 in GPT-3) with any benchmark document.

Scale shape: the eval side is tiny relative to the corpus (benchmarks
are ~10^5 rows vs 10^12 training docs), so its distinct gram set is
BROADCAST — the corpus-side pass is gram-explode → broadcast semi-ish
join → per-doc count, one shuffle on doc_id only, never an all-pairs
or corpus-wide gram self-join. Grams stay JVM-side strings here
(built-in `slice`/`concat_ws`, whole-stage codegen); a 100 TB run
would dictionary-hash them (xxhash64) with identical join semantics —
collisions only ever ADD candidates, and the flag is already a
superset-style filter.

Output contract: one row per INPUT doc (zero-match docs included) —
(doc_id, n_matched_grams = distinct eval grams shared, contaminated).

Reference parity: [EXT] LLM-pipeline surface (SURVEY.md §2.4); no
reference counterpart — the reference is a file-level dedup CLI.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dedup_spark.functions.text import tokens


def _doc_ngrams(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, gram) — DISTINCT word-n-grams per doc, built-ins only."""
    toks = tokens(F.col(text_col))
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return (
        df.filter(F.trim(F.col(text_col)) != "")
        .filter(F.size(toks) >= n)
        .select(F.col(id_col), F.explode(grams).alias("gram"))
        .distinct()
    )


def contamination_flags(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Flag every doc in ``docs`` sharing >= 1 word-n-gram with any row
    of ``eval_docs``. Returns (id_col, n_matched_grams, contaminated)
    for EVERY input doc."""
    train_g = _doc_ngrams(docs, id_col, text_col, n)
    eval_g = (
        _doc_ngrams(
            eval_docs.select(F.lit(0).alias("_eid"), F.col(eval_text_col)),
            "_eid",
            eval_text_col,
            n,
        )
        .select("gram")
        .distinct()
    )
    matched = (
        train_g.join(F.broadcast(eval_g), on="gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return docs.select(id_col).join(matched, on=id_col, how="left").select(
        id_col,
        F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_matched_grams"),
        (F.coalesce(F.col("_n"), F.lit(0)) > 0).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# model-based quality filter (linear head over hashed-bigram features)
# ---------------------------------------------------------------------------


def quality_head_weights(dim: int = 64, seed: str = "qhead-0") -> list[float]:
    """Deterministic linear-head weights, the stand-in for a trained
    fastText/FineWeb-Edu-style quality classifier (no model files in
    this container — but the SERVING path, which is what a data engine
    owns, is identical): w_i = (u32(md5(seed:i)) / 2^32) - 0.5, exactly
    representable doubles reproducible in any engine from the same md5.
    Single source of truth — the driver query inlines these into BOTH
    the Spark plan and the DuckDB oracle's VALUES table."""
    import hashlib as _hl

    out = []
    for i in range(dim):
        u = int(_hl.md5(f"{seed}:{i}".encode()).hexdigest()[:8], 16)
        out.append(u / 4294967296.0 - 0.5)
    return out


def linear_quality_scores(
    emb: DataFrame,
    weights: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.0,
) -> DataFrame:
    """(id, score, keep): score = round(w·e, 6) via an ORDERED fold
    (F.aggregate over zip_with — sequential, so DuckDB's list_reduce
    reproduces the identical IEEE sum), keep = rounded score >=
    threshold. No sigmoid: a monotone link doesn't change the keep set
    and transcendental libm calls are the one place two engines'
    doubles can drift."""
    w = F.array(*[F.lit(float(x)) for x in weights])
    dot = F.aggregate(
        F.zip_with(F.col(vec_col), w, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return emb.select(
        F.col(id_col),
        F.round(dot, 6).alias("score"),
    ).withColumn("keep", F.col("score") >= F.lit(threshold))
