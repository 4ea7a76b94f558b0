"""Distributed BPE merge induction — the first k tokenizer merges.

The public recipe (Sennrich et al. 2016 "Neural Machine Translation of
Rare Words with Subword Units"; the training loop behind GPT-2's BPE
and SentencePiece-BPE): start from characters, repeatedly count every
adjacent symbol pair across the corpus (weighted by word frequency)
and merge the most frequent pair into a new symbol. Training a
tokenizer IS a corpus-scale aggregation problem — exactly the shape
this engine exists for — and the merge table it emits is the
tokenizer.

Distributed shape per round:
  * pair counting is ONE map-side-combinable aggregation over the
    vocabulary weighted by corpus counts (the corpus-scale work — the
    word-frequency table — was a single groupBy up front; every later
    round touches only the DISTINCT-WORD table, which is tiny relative
    to the corpus at any scale);
  * the argmax is a 1-row collect with a deterministic tie-break
    (count desc, pair asc) — k driver actions total, the same O(k)
    driver posture as k-means seeding;
  * applying a merge is a literal string replace over the vocab.

Symbol representation (the part that makes the replace CORRECT and
engine-portable): a word's symbol sequence is rendered as a single
string with every symbol PREFIXED by the \\x01 marker and separated
by one space — "\\x01a \\x01b \\x01c". Merging pair (a, b) is then the
plain literal replacement of "\\x01a \\x01b" with "\\x01ab":
  * the marker makes a symbol-START unmistakable, so a symbol that is
    a SUFFIX of another can never false-match (no regex lookbehind
    needed — RE2 has none, and no regex at all is used);
  * leftmost non-overlapping replace-all is exactly BPE's greedy merge
    order ("a a a" + merge(a,a) -> "aa a"), and both Java's
    String.replace and DuckDB's replace() implement it identically
    (probed bit-for-bit).

The DuckDB oracle replays the identical k rounds as UNROLLED CTE
stages generated by the same Python loop — counting, tie-break, and
replacement all recomputed in SQL.

Reference parity: [EXT] LLM-pipeline surface (SURVEY.md §2.4); no
reference counterpart — this is the tokenizer-induction tier of the
training-data pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dedup_spark.functions.text import tokens

SOH = "\x01"  # symbol-start marker; never appears in corpus text


def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) over the normalized token stream — the one
    corpus-scale pass; everything after runs on the distinct-word
    table."""
    toks = tokens(F.col(text_col))
    return (
        docs.filter(
            F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
        )
        .select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def _initial_seq(word_col: F.Column) -> F.Column:
    """'\\x01c \\x01h \\x01a \\x01t' for word 'chat'."""
    return F.concat(
        F.lit(SOH), F.array_join(F.split(word_col, ""), " " + SOH)
    )


def bpe_merges(words: DataFrame, k: int) -> DataFrame:
    """Induce the first `k` BPE merges from a (word, cnt) frequency
    table. Returns a k-row DataFrame (rank, sym_left, sym_right,
    merged, freq) in merge order, marker-free (left/right are SQL
    keywords, hence sym_*). Raises if the vocabulary runs out of
    adjacent pairs before k merges (a corpus contract, not a runtime
    surprise)."""
    spark = words.sparkSession
    w = words.select(
        "cnt", _initial_seq(F.col("word")).alias("seq")
    ).localCheckpoint(eager=True)
    merges: list[tuple] = []
    for r in range(k):
        syms = F.split("seq", " ")
        n = F.size(syms)
        pairs = (
            w.filter(n >= 2)
            .select(
                "cnt",
                F.explode(
                    F.arrays_zip(
                        F.slice(syms, 1, n - 1).alias("l"),
                        F.slice(syms, 2, n - 1).alias("r"),
                    )
                ).alias("p"),
            )
            .select(
                F.concat(F.col("p.l"), F.lit(" "), F.col("p.r")).alias("pair"),
                "cnt",
            )
        )
        top = (
            pairs.groupBy("pair")
            .agg(F.sum("cnt").cast("long").alias("freq"))
            .orderBy(F.col("freq").desc(), F.col("pair").asc())
            .limit(1)
            .collect()
        )
        if not top:
            raise ValueError(f"vocabulary exhausted after {r} merges")
        pair, freq = top[0]["pair"], top[0]["freq"]
        left, right = [s.replace(SOH, "") for s in pair.split(" ")]
        merges.append((r + 1, left, right, left + right, freq))
        w = w.withColumn(
            "seq",
            F.replace(F.col("seq"), F.lit(pair), F.lit(SOH + left + right)),
        ).localCheckpoint(eager=True)
    return spark.createDataFrame(
        merges,
        schema=(
            "rank long, sym_left string, sym_right string, "
            "merged string, freq long"
        ),
    )


def apply_merges(words: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Tokenizer APPLICATION: render each distinct word as its marked
    symbol string and replay the learned merge list in order (same
    literal leftmost non-overlapping replace the trainer used — Java
    String.replace, probed identical to DuckDB's replace()). Returns
    (word, n_tokens). The merge chain is a fixed k-deep expression
    tree, fully whole-stage-codegen — encoding is a projection over
    the DISTINCT-WORD table, never the corpus."""
    col = _initial_seq(F.col("word"))
    for left, right in merges:
        pair = SOH + left + " " + SOH + right
        col = F.replace(col, F.lit(pair), F.lit(SOH + left + right))
    return words.select(
        "word", F.size(F.split(col, " ")).cast("long").alias("n_tokens")
    )


def doc_token_counts(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document token counts under the learned BPE: explode the
    token stream, join each word to its vocab-table token count, sum
    per doc. (id, n_words, n_tokens, compression = n_tokens/n_words
    rounded 6dp — characters-per-token style tokenizer health, the
    number a tokenizer change is judged by). The expensive side is one
    exploded-word shuffle; the vocab side is the distinct-word table."""
    toks = tokens(F.col(text_col))
    d = docs.filter(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    ).select(id_col, F.explode(toks).alias("word"))
    vocab = apply_merges(d.select("word").distinct(), merges)
    return (
        d.join(vocab, "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .select(
            id_col,
            "n_words",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("n_words"), 6).alias(
                "compression"
            ),
        )
    )
