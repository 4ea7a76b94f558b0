"""Text analysis for training-data pipelines — all built-in expressions
(JVM-side, whole-stage codegen) so they run at scan speed; every
function is also expressible in ANSI SQL for the DuckDB oracle.

  token_count        whitespace tokenization count
  char_classes       punctuation / digit / alpha / space ratios
  quality_score      composite [0,1] heuristic (length, punct, stopword)
  lang_id            stopword-marker n-gram heuristic over 5 languages
  fingerprint        normalization + hash document fingerprint
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# public stopword markers per language (tiny, deterministic lists —
# a real pipeline would swap in fastText; the plumbing is identical)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "la", "los", "que", "es"],
    "zh": ["的", "是", "了", "在", "我"],
}
EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "that"]


def token_count(text: Column) -> Column:
    """Whitespace token count; empty/blank → 0."""
    trimmed = F.trim(text)
    return F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


#: BPE-ish pre-tokenizer approximation (GPT-2-style word/number/punct
#: runs with leading-space attachment), restricted to constructs RE2
#: also supports so the DuckDB oracle can run the SAME pattern.
SUBWORD_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def subword_count(text: Column) -> Column:
    """BPE-ish token count: number of SUBWORD_PATTERN matches — the
    standard cheap stand-in for a real BPE vocab when budgeting LLM
    training tokens (a true tokenizer splits long words further; this
    undercounts by the subword-merge factor, which the chars-per-token
    ratio column exposes)."""
    return F.when(F.trim(text) == "", F.lit(0)).otherwise(
        F.regexp_count(text, F.lit(SUBWORD_PATTERN))
    )


def tokens(text: Column) -> Column:
    """Lowercased whitespace tokens — the one word tokenizer of the
    marker counts and of the text operators. One split, reused by every
    marker expression (Catalyst CSEs the subexpression); exact token
    equality instead of regex word-boundary matching so the semantics
    are trivially portable to any ANSI engine (the DuckDB oracle
    replicates it with regexp_split_to_array + list_filter)."""
    return F.split(F.lower(F.trim(text)), r"\s+")


def _count_matches(text: Column, word: str) -> Column:
    """Occurrences of `word` as a whole (lowercased) token."""
    return F.size(F.filter(tokens(text), lambda x: x == F.lit(word)))


def marker_score(text: Column, lang: str) -> Column:
    """Total marker-token occurrences for one language (integer)."""
    s = F.lit(0)
    for w in LANG_MARKERS[lang]:
        s = s + _count_matches(text, w)
    return s


def lang_id(text: Column) -> Column:
    """argmax over language marker scores; 'und' if all zero.
    Deterministic tie-break = language alphabetical order (greatest
    struct comparison puts score first, then reversed lang so earlier
    alphabet wins ties)."""
    structs = [
        F.struct(
            marker_score(text, lang).alias("score"),
            F.lit(_rev_ord(lang)).alias("tie"),
            F.lit(lang).alias("lang"),
        )
        for lang in sorted(LANG_MARKERS)
    ]
    best = F.greatest(*structs)
    return F.when(best["score"] <= 0, F.lit("und")).otherwise(best["lang"])


def _rev_ord(lang: str) -> str:
    """Invert byte order so greatest() prefers alphabetically-first on ties."""
    return "".join(chr(255 - ord(c)) for c in lang)


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    punct = n - F.length(F.regexp_replace(text, r"[!-/:-@\[-`{-~]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(punct / n)


def alpha_ratio(text: Column) -> Column:
    n = F.length(text)
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(alpha / n)


def stopword_ratio(text: Column) -> Column:
    toks = token_count(text)
    s = F.lit(0)
    for w in EN_STOPWORDS:
        s = s + _count_matches(text, w)
    return F.when(toks == 0, F.lit(0.0)).otherwise(s / toks)


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic (public C4/Gopher-style rules):
    reward moderate length, alpha-dominated text, some stopwords,
    penalize punctuation floods. Pure closed-form so the oracle SQL can
    replicate it exactly."""
    n_tok = token_count(text)
    len_term = F.least(n_tok / F.lit(20.0), F.lit(1.0))
    alpha_term = alpha_ratio(text)
    stop_term = F.least(stopword_ratio(text) * 4, F.lit(1.0))
    punct_pen = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(text) * 5)
    return F.round(
        (len_term + alpha_term + stop_term + punct_pen) / 4.0, 6
    )


def normalize_text(text: Column) -> Column:
    """Dedup normalization: lowercase, collapse whitespace, strip
    punctuation — the canonical form used for fingerprinting."""
    t = F.lower(text)
    t = F.regexp_replace(t, r"[!-/:-@\[-`{-~]", " ")
    t = F.trim(F.regexp_replace(t, r"\s+", " "))
    return t


def fingerprint(text: Column) -> Column:
    """Document fingerprint = sha256 of the normalized text. Rows with
    equal fingerprints are normalization-equal duplicates (a cheaper,
    more forgiving tier than byte equality)."""
    return F.sha2(normalize_text(text), 256)


# --- intra-document repetition (Gopher repetition filters) -----------
#
# Gopher (Rae et al., 2021, §A1.1) drops documents whose content is
# dominated by internal repetition — duplicate lines, duplicate
# n-grams — because repetition is the signature of spam, scraped
# tables, and SEO keyword stuffing, and near-dup tiers can't see it
# (a doc is never a near-duplicate of itself). Two of those signals
# re-expressed as built-in expressions:


def dup_word_fraction(text: Column) -> Column:
    """Fraction of word tokens that are repeats of an earlier token:
    1 - |distinct tokens| / |tokens| — array-local, zero shuffle, runs
    at scan speed. 0.0 for empty/blank text."""
    toks = tokens(text)
    return F.when(F.trim(text) == "", F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(toks)) / F.size(toks)
    )


def bigrams(text: Column) -> Column:
    """Adjacent lowercased token bigrams as 'a b' strings (empty array
    for docs with < 2 tokens). Built for explode→groupBy: the top-
    bigram count needs a per-(doc, bigram) aggregation, which is a
    combinable two-phase groupBy — an array-local O(L²) nested filter
    would melt on long web documents, the shuffle version is linear."""
    toks = tokens(text)
    n = F.size(toks)
    idxs = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idxs,
        lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
    )
