"""Product quantization (PQ) + IVFPQ top-k search.

Public recipe: Jégou, Douze, Schmid, "Product Quantization for Nearest
Neighbor Search" (TPAMI 2011) — the FAISS IVFPQ architecture. The
vector is split into ``m`` subvectors; each subspace gets its own
``ksub``-centroid codebook (k-means); a vector is stored as ``m`` small
codes. Search is ADC (asymmetric distance computation): the query stays
exact, candidate similarity is approximated from the codes via
per-subspace dot products with the reconstruction, then a shortlist is
re-ranked with the TRUE vectors.

Why this is the 100 TB tier: the IVF candidate join ships ``m`` small
ints (the gate config is m=16 codes × 8 bits = 16 B of code payload
per vector, stored as ints) per candidate instead of the 64-double
embedding — the wide, shuffled side of the search is ~32× lighter,
and only ``shortlist`` rows per query ever re-join the full vectors. Memory for a resident index is
m·log2(ksub) bits/vector (+ cell id) instead of 256 B of float32.

Determinism discipline (identical to ``kmeans_centroids``,
embeddings.py:376): hash-min seed rows, one mapInPandas partial pass
per Lloyd iteration training ALL subspaces at once, decimal-exact
component sums (order-free across partitions), centroids rounded to 6
decimals each iteration — so code assignments, the ADC shortlist, and
therefore the search output are bit-stable across runs and
partitionings. PQ encodes the raw L2-normalized vector (no residual
encoding — the coarse quantizer here is a probe router, not part of
the code; documented deviation from FAISS IVFPQ, which encodes
residuals, chosen so the codebook is independent of the coarse tier
and either can be retrained alone).

Gate design (the ``pq_topk`` driver query): at FULL probe depth with a
``shortlist`` comfortably wider than k, the exact re-rank must
reproduce the brute GEMM top-k ROW FOR ROW — the same hard signal as
``ivf_topk`` — because the only way a true top-k neighbor escapes is
falling below the shortlist cut in ADC rank. Production probe depth /
shortlist trade recall for work and are measured in tests, not gated.

Reference parity: [EXT] (SURVEY.md §2.4) — no reference counterpart;
this generalizes the reference's "cheap signature before expensive
compare" cascade (src/hasher.rs partial→full) to vector search:
codes ≙ partial hash, exact re-rank ≙ full hash.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T

from dedup_spark.operators.embeddings import (
    _norm,
    _rounded_cosine,
    probe_cells_udf,
)


def pq_train(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
    iters: int = 5,
) -> np.ndarray:
    """Train per-subspace codebooks over L2-normalized vectors.

    Returns ``(m, ksub, dim//m)`` float64 codebooks, rounded to 6
    decimals. One distributed partial-aggregation pass per iteration
    trains ALL m subspaces simultaneously; only m·ksub aggregated rows
    reach the driver per iteration.
    """
    slim = corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    seed_rows = (
        slim.withColumn("_h", F.xxhash64("_id")).orderBy("_h").limit(ksub).collect()
    )
    seeds = np.stack([np.asarray(r["_v"], dtype=np.float64) for r in seed_rows])
    nrm = np.linalg.norm(seeds, axis=1, keepdims=True)
    nrm[nrm == 0] = 1.0  # a zero-norm seed must not poison the codebook
    seeds /= nrm
    dim = seeds.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    # (m, ksub, d): subspace j initialized from the seed rows' j-th slice
    cb = np.round(
        np.stack([seeds[:, j * d : (j + 1) * d] for j in range(m)]), 6
    )
    sc = corpus.sparkSession.sparkContext

    part_schema = "sub int, cell int, n long, sums array<double>"
    for _ in range(iters):
        b_cb = sc.broadcast(cb)

        def _partial(it: Iterator[pd.DataFrame], _bc=b_cb) -> Iterator[pd.DataFrame]:
            cbs = _bc.value
            for pdf in it:
                mat = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
                nrm = np.linalg.norm(mat, axis=1, keepdims=True)
                nrm[nrm == 0] = 1.0
                mat /= nrm
                rows = {"sub": [], "cell": [], "n": [], "sums": []}
                for j in range(cbs.shape[0]):
                    sub = mat[:, j * d : (j + 1) * d]
                    # argmin L2 == argmax (dot - |c|^2/2); keep L2 form
                    d2 = (
                        -2.0 * (sub @ cbs[j].T)
                        + (cbs[j] ** 2).sum(axis=1)[None, :]
                    )
                    cell = np.argmin(d2, axis=1)
                    for c in np.unique(cell):
                        sel = sub[cell == c]
                        rows["sub"].append(j)
                        rows["cell"].append(int(c))
                        rows["n"].append(int(sel.shape[0]))
                        rows["sums"].append(sel.sum(axis=0).tolist())
                yield pd.DataFrame(rows)

        agg = (
            slim.mapInPandas(_partial, schema=part_schema)
            .groupBy("sub", "cell")
            .agg(
                F.sum("n").alias("n"),
                # decimal-exact sums: order-free across partitions, so
                # the trained codebooks are bit-identical across runs
                F.array(
                    *[
                        F.sum(
                            F.element_at("sums", i + 1).cast("decimal(30,12)")
                        ).cast("double")
                        for i in range(d)
                    ]
                ).alias("sums"),
            )
            .collect()
        )
        new = cb.copy()  # empty cells keep their centroid
        for r in agg:
            new[r["sub"], r["cell"]] = (
                np.asarray(r["sums"], dtype=np.float64) / r["n"]
            )
        cb = np.round(new, 6)
        b_cb.destroy()
    return cb


def _codes_udf(codebooks: np.ndarray, sc):
    """pandas UDF: vector → m PQ codes (argmin L2 per subspace)."""
    b_cb = sc.broadcast(codebooks)
    m, _, d = codebooks.shape

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _codes(vecs: pd.Series) -> pd.Series:
        cbs = b_cb.value
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(mat, axis=1, keepdims=True)
        nrm[nrm == 0] = 1.0
        mat /= nrm
        out = np.empty((mat.shape[0], m), dtype=np.int32)
        for j in range(m):
            sub = mat[:, j * d : (j + 1) * d]
            d2 = -2.0 * (sub @ cbs[j].T) + (cbs[j] ** 2).sum(axis=1)[None, :]
            out[:, j] = np.argmin(d2, axis=1)
        return pd.Series([row.tolist() for row in out])

    return _codes


def ivfpq_topk(
    corpus: DataFrame,
    coarse_centroids: np.ndarray,
    codebooks: np.ndarray,
    k: int = 5,
    n_probe: int = 3,
    shortlist: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFPQ top-k self-search: coarse cells route probes, PQ-ADC ranks
    candidates from codes alone, the top ``shortlist`` per query are
    re-ranked by EXACT cosine, and the final contract is identical to
    ``ivf_topk`` / the brute tier: rank by (rounded cosine desc,
    neighbor_id), ``rnk <= k``.

    Scale shape: the cell join's candidate rows carry (query vector,
    m int codes) — never two full vectors; the per-query window runs
    over probed-cell candidates only; the exact re-rank joins the full
    vector back for shortlist·n_queries rows only. Zero-norm vectors
    are dropped on both sides (the GEMM-tier contract).
    """
    sc = corpus.sparkSession.sparkContext
    b_cb = sc.broadcast(codebooks)
    m, _, d = codebooks.shape
    cells = probe_cells_udf(sc, coarse_centroids, n_probe)
    base = (
        corpus.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            _norm(F.col(vec_col)).alias("_n"),
        )
        .filter(F.col("_n") > 0)
        .withColumn("_cells", cells(F.col("_v")))
        .withColumn("_codes", _codes_udf(codebooks, sc)(F.col("_v")))
        # consumed by the index side, the query side, AND the re-rank
        # join — without this both UDFs re-execute per consumer
        .localCheckpoint(eager=False)
    )
    # index side ships codes only — the compression claim lives here
    index = base.select(
        F.col("_id").alias("neighbor_id"),
        F.col("_codes").alias("codes"),
        F.element_at("_cells", 1).alias("cell"),
    )
    qry = base.select(
        F.col("_id").alias("query_id"),
        F.col("_v").alias("_qv"),
        F.explode("_cells").alias("cell"),
    )
    cand = qry.join(index, on="cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )

    adc_schema = "query_id long, neighbor_id long, approx double"

    def _adc(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cbs = b_cb.value
        for pdf in it:
            if not len(pdf):
                continue
            qmat = np.stack(pdf["_qv"].to_numpy()).astype(np.float64)
            nrm = np.linalg.norm(qmat, axis=1, keepdims=True)
            nrm[nrm == 0] = 1.0
            qmat /= nrm
            codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            # reconstruction from codes, subspace by subspace; the
            # per-row dot is a fixed-order sum — batch-independent
            approx = np.zeros(len(pdf), dtype=np.float64)
            for j in range(m):
                approx += np.einsum(
                    "ij,ij->i", qmat[:, j * d : (j + 1) * d], cbs[j][codes[:, j]]
                )
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(),
                    "neighbor_id": pdf["neighbor_id"].to_numpy(),
                    "approx": approx,
                }
            )

    scored = cand.select("query_id", "neighbor_id", "_qv", "codes").mapInPandas(
        _adc, schema=adc_schema
    )
    w_sl = Window.partitionBy("query_id").orderBy(
        F.desc("approx"), F.asc("neighbor_id")
    )
    short = (
        scored.withColumn("_r", F.row_number().over(w_sl))
        .filter(F.col("_r") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    # exact re-rank: only shortlist rows re-join the true vectors
    qvec = base.select(
        F.col("_id").alias("query_id"),
        F.col("_v").alias("_qv"),
        F.col("_n").alias("_qn"),
    )
    nvec = base.select(
        F.col("_id").alias("neighbor_id"),
        F.col("_v").alias("_cv"),
        F.col("_n").alias("_cn"),
    )
    reranked = (
        short.join(qvec, on="query_id")
        .join(nvec, on="neighbor_id")
        .withColumn("cosine", _rounded_cosine())
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        reranked.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )
