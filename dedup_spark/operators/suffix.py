"""Substring-containment dedup over captions. [EXT]

LSH on shingle Jaccard misses containment: if caption A is a short
substring of a long caption B, Jaccard(A, B) ≈ |A| / |B| is tiny even
though A is fully contained. The north rule mandates a suffix-structure
tier to catch these.

Two cooperating paths:

1. `containment_pairs` (scale path, exact semantics for k-shingle
   containment): containment score C(A,B) = |S_A ∩ S_B| / |S_A| over
   word-k-gram shingle sets. A true substring has C = 1.0 (every shingle
   of A appears in B). Implemented as an inverted-index join, the
   capped shared-key join of `banding.shared_key_pairs`: explode
   distinct shingles → for each shingle pair up docs sharing it →
   count shared shingles per pair → divide by the smaller doc's
   shingle count. All built-in ops after the shingle UDF; the
   common-shingle cap bounds fan-out exactly like a posting list
   cutoff in IR systems.

2. `char_substring_pairs` (exact character-level substring, GLOBAL
   recall): the min-gram anchor algorithm. Every doc contributes all
   its distinct byte k-gram hashes to an inverted index; every doc of
   length >= k has one deterministic ANCHOR gram (its minimal gram
   hash). If A is a substring of B, every k-gram of A — in particular
   its anchor — is a k-gram of B, so the (anchor = indexed gram)
   equi-join has provably full recall for contained docs >= k bytes;
   exact precision comes from an `instr` verify on the candidate pairs
   (JVM built-in). One narrow vectorized-UDF pass builds the grams;
   the join shuffles (gram, id) pairs only; posting caps bound flood
   grams the same way the IR-style shingle cap does (drops logged).
   This is the same candidate economics as a suffix-array / winnowing
   fingerprint index (Schleimer et al., SIGMOD'03 winnowing — public),
   expressed as DataFrame joins instead of a partition-local scan, so
   cross-partition containment needs no locality heuristic at all.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from dedup_spark.config import DEFAULT_CONFIG, DedupConfig
from dedup_spark.functions.text import tokens
from dedup_spark.operators.banding import key_postings, shared_key_pairs
from dedup_spark.operators.minhash import shingle_explode_udf, shingle_multipliers


def _shingle_overlaps(
    df: DataFrame,
    id_col: str,
    text_col: str,
    cfg: DedupConfig,
    max_posting: int | None,
    what: str,
) -> DataFrame:
    """(id1, id2, n_shared, _sz1, _sz2), id1 < id2: the shingle-set
    overlap of every doc pair sharing a shingle, through the capped
    inverted index of `banding.shared_key_pairs` (drops logged as
    ``what``). The set size rides along as a carry column, so no size
    aggregate is joined back."""
    sh = shingle_explode_udf(cfg)(F.col(text_col))
    # both reads of the UDF column sit in the one generator, where it
    # is evaluated once and a null drops the row. An explode of the
    # aliased column would get an inferred not-null filter, pushed
    # below the projection, that evaluates the UDF a second time
    posts = df.select(
        F.col(id_col).alias("_id"),
        F.inline(
            F.arrays_zip(
                sh.alias("shingle"), F.array_repeat(F.size(sh), F.size(sh)).alias("_sz")
            )
        ),
    )
    return shared_key_pairs(posts, "shingle", max_posting, what, carry_cols=["_sz"])


def containment_pairs(
    df: DataFrame,
    id_col: str = "image_id",
    text_col: str = "caption",
    cfg: DedupConfig = DEFAULT_CONFIG,
    threshold: float = 1.0,
    max_posting: int | None = 512,
) -> DataFrame:
    """(id1, id2, containment) where containment = |S1∩S2| / min(|S1|,|S2|)
    >= threshold. id1 < id2; the contained (smaller) doc can be either.

    Posting lists longer than max_posting are dropped WITH a logged
    count (a shingle shared by thousands of docs carries no signal —
    standard IDF cutoff); at 100 TB this is the difference between a
    sparse join and a quadratic blowup. The cap is ON by default.
    """
    return (
        _shingle_overlaps(df, id_col, text_col, cfg, max_posting, "containment_pairs")
        .withColumn("containment", F.col("n_shared") / F.least("_sz1", "_sz2"))
        .filter(F.col("containment") >= threshold)
        .select("id1", "id2", "containment")
    )


def exact_jaccard_pairs(
    df: DataFrame,
    id_col: str = "image_id",
    text_col: str = "caption",
    cfg: DedupConfig = DEFAULT_CONFIG,
    threshold: float | None = None,
    max_posting: int | None = 512,
    min_tokens: int | None = None,
) -> DataFrame:
    """Exact shingle-Jaccard pairs via the same inverted-index join as
    `containment_pairs` — the deterministic ground-truth path that the
    MinHash LSH tier approximates. (id1, id2, jaccard) with id1 < id2,
    jaccard = |S1∩S2| / |S1∪S2| >= threshold.

    The posting cap is ON by default, with dropped-key counts logged
    (no silent caps): a shingle shared by thousands of docs carries
    ~no signal, and one uncapped stopword-shingle explodes the join
    quadratically at 100×. Pass ``max_posting=None`` for the exhaustive
    small-corpus oracle variant (pairs sharing zero shingles have
    jaccard 0 and can never pass a positive threshold, so the uncapped
    inverted index IS exact).

    `min_tokens` drops docs shorter than the shingle width instead of
    padding them (parity with SQL oracles that cannot express padding).
    """
    threshold = cfg.jaccard_threshold if threshold is None else threshold
    base = df
    if min_tokens is not None:
        base = base.filter(
            F.size(tokens(F.col(text_col))) >= min_tokens
        )
    return (
        _shingle_overlaps(base, id_col, text_col, cfg, max_posting, "exact_jaccard_pairs")
        .withColumn(
            "jaccard",
            F.col("n_shared") / (F.col("_sz1") + F.col("_sz2") - F.col("n_shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


def _byte_gram_udf(k: int, return_type, reduce, dtype=None):
    """pandas UDF: text → ``reduce`` of its positional byte-k-gram
    hashes (one uint64 per byte offset); NULL for null/too-short texts.
    The one rolling-hash kernel of this module: hash = xor of k
    multiplier-mixed byte views (``shingle_multipliers``, shared with
    the DuckDB oracle builder so the two can never drift), all numpy —
    no per-character Python."""
    mults = shingle_multipliers(k)

    def _grams(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            raw = None if t is None else t.encode("utf-8")
            if raw is None or len(raw) < k:
                out.append(None)
                continue
            arr = np.frombuffer(raw, dtype=np.uint8).astype(np.uint64)
            n = len(arr) - k + 1
            acc = np.zeros(n, dtype=np.uint64)
            for j in range(k):
                acc ^= arr[j : j + n] * mults[j]
            out.append(reduce(acc))
        return pd.Series(out, dtype=dtype)

    return F.pandas_udf(_grams, return_type)


def char_gram_hashes_udf(k: int):
    """pandas UDF: text → SORTED distinct byte-k-gram hashes
    (array<long>); NULL for null/too-short texts.

    Grams are computed over UTF-8 bytes — safe for containment because
    UTF-8 is self-synchronizing: a complete valid string contained
    byte-wise starts and ends on character boundaries, so byte
    containment ⟺ character containment. Sorted output makes the anchor
    (minimum gram hash) simply element 1 — no second UDF pass.
    """
    return _byte_gram_udf(
        k,
        T.ArrayType(T.LongType()),
        lambda acc: np.unique(acc).astype(np.int64).tolist(),
    )


def char_gram_winnowed_udf(k: int, w: int):
    """pandas UDF: text → sorted distinct WINNOWED byte-k-gram hashes
    (array<long>); NULL for null/too-short texts.

    Winnowing (Schleimer et al., SIGMOD'03): keep the minimum of every
    window of ``w`` consecutive positional gram hashes — expected
    density 2/(w+1), so the posting index shrinks ~4x at w=8 while the
    recall argument of char_substring_pairs survives (see its
    docstring: any contained doc with >= w grams spans a full window
    of the container, and that window's minimum is the contained doc's
    global-min anchor... or smaller — either way the anchor value,
    being the run minimum, is selected by the window that covers its
    position). The GLOBAL minimum gram is always selected (it is the
    min of any window covering it), so element 1 of the sorted output
    is still the doc's anchor/fingerprint, bit-identical to the
    unwinnowed variant's element 1.

    Docs with fewer than w grams winnow over a single full-width
    window (their global min alone)."""
    from numpy.lib.stride_tricks import sliding_window_view

    def _winnow(acc: np.ndarray) -> list[int]:
        if len(acc) <= w:
            sel = acc.min(keepdims=True)
        else:
            sel = sliding_window_view(acc, w).min(axis=1)
        return np.unique(sel).astype(np.int64).tolist()

    return _byte_gram_udf(k, T.ArrayType(T.LongType()), _winnow)


def char_gram_min_udf(k: int):
    """pandas UDF: text → MINIMUM byte-k-gram hash (long); NULL for
    null/too-short texts.

    Same rolling hash as char_gram_hashes_udf (so the DuckDB oracle's
    gram-by-gram recompute stays valid), but emits only the scalar
    min — the winnowing anchor / doc fingerprint. Skipping the
    sort/unique/Python-list materialization of the full gram array
    makes this ~5x cheaper per doc than taking element 1 of the array
    UDF, and the Arrow transfer is one int64 per row instead of one
    array per row. min over uint64 == first element of the sorted
    distinct array, so the value is bit-identical."""
    return _byte_gram_udf(
        k, T.LongType(), lambda acc: int(acc.min().astype(np.int64)), "Int64"
    )


def char_substring_pairs(
    df: DataFrame,
    id_col: str = "image_id",
    text_col: str = "caption",
    k: int = 24,
    max_posting: int | None = 4096,
    winnow_w: int = 1,
) -> DataFrame:
    """Exact character-level substring pairs with GLOBAL recall.

    (id1, id2) where id1's text is a strict substring of id2's text
    (equal texts emit one row with id1 < id2), restricted to contained
    docs of >= k + winnow_w - 1 bytes — the documented contract
    mirrored by the SQL oracle (an index cannot anchor a doc shorter
    than one gram, and a winnowed index needs one full window of
    grams; shorter docs are the shingle tier's job).

    Recall proof: anchor(A) = min gram of A. A ⊆ B means A's grams are
    a contiguous run inside B's positional grams; with winnow_w = 1
    every gram of B is indexed, so anchor(A) ∈ postings(B) directly.
    With winnow_w = w > 1 the index keeps only window minima
    (Schleimer et al. winnowing, density ~2/(w+1)); any contained doc
    with >= w grams (>= k+w-1 bytes) spans a full w-window of B
    covering its argmin position, and that window's minimum IS
    anchor(A) — so the equi-join still yields every in-contract pair.
    `instr` verification makes precision exact (hash collisions only
    ever ADD candidates). Scale shape: one vectorized gram pass
    (narrow, localCheckpointed slim), a (gram, id) shuffle ~4x smaller
    when winnowed, a sparse equi-join, and a candidate-restricted
    verify — no all-pairs stage anywhere. Flood grams (> max_posting
    docs) are dropped WITH a logged count.
    """
    min_len = k + winnow_w - 1
    base = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("_id"),
            F.col(text_col).alias("_t"),
            F.octet_length(text_col).alias("_blen"),
        )
    )
    grams = (
        char_gram_winnowed_udf(k, winnow_w)
        if winnow_w > 1
        else char_gram_hashes_udf(k)
    )
    g = (
        base.filter(F.col("_blen") >= k)
        .select("_id", "_blen", grams(F.col("_t")).alias("_g"))
        # one UDF pass feeds both branches. The call starts no job
        # unless ``df``'s own plan holds a shuffle (AQE runs every
        # shuffle below a localCheckpoint at the call); a cap adds
        # the build-time drop count. The null filter sits above
        # the cut: below it, it would be pushed under the projection
        # and evaluate the UDF a second time
        .localCheckpoint(eager=False)
        .filter(F.col("_g").isNotNull())
    )
    # a gram held by one doc can only meet its own anchor, so the
    # ``_n >= 2`` cut of `key_postings` loses no pair. None = uncapped
    # exhaustive variant (the exact-gate oracle runs the uncapped
    # quadratic substring self-join, so the engine must not cap either)
    posts = g.select(F.col("_id").alias("outer_id"), F.explode("_g").alias("gram"))
    posts = key_postings(posts, "gram", max_posting, "char_substring_pairs", "outer_id")
    anchors = g.filter(F.col("_blen") >= min_len).select(
        F.col("_id").alias("inner_id"), F.element_at("_g", 1).alias("gram")
    )
    cand = (
        anchors.join(posts, on="gram")
        .filter(F.col("inner_id") != F.col("outer_id"))
        .select("inner_id", "outer_id")
    )
    t1 = base.select(
        F.col("_id").alias("inner_id"), F.col("_t").alias("_t1"), F.col("_blen").alias("_b1")
    )
    t2 = base.select(
        F.col("_id").alias("outer_id"), F.col("_t").alias("_t2"), F.col("_blen").alias("_b2")
    )
    return (
        cand.join(t1, "inner_id").join(t2, "outer_id")
        .filter(
            (F.instr(F.col("_t2"), F.col("_t1")) >= 1)
            & (
                (F.col("_b1") < F.col("_b2"))
                | ((F.col("_b1") == F.col("_b2")) & (F.col("inner_id") < F.col("outer_id")))
            )
        )
        .select(F.col("inner_id").alias("id1"), F.col("outer_id").alias("id2"))
    )
