"""Shared band/bucket candidate generation with the star skew guard.

Every LSH-family tier in this engine (MinHash bands, SimHash/phash
Hamming bands, hyperplane ANN buckets, IVF cells) reduces to the same
shape: rows keyed by (bucket...) → pairs of ids sharing a bucket. A
duplicate flood makes one bucket huge, and emitting its C(n,2) pairs
is the one quadratic blowup no amount of partitioning fixes — so
buckets larger than ``max_bucket`` emit an O(n) STAR to the bucket's
min id instead (connected components restores the full cluster, and a
downstream verify join re-checks every edge it keeps). This module is
the single implementation all tiers share.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window, functions as F


def star_guarded_pairs(
    bucketed: DataFrame,
    bucket_cols: list[str],
    max_bucket: int,
    id_col: str = "_id",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """(id1, id2) pairs of rows sharing a bucket, skew-guarded.

    ``bucketed``: one row per (row, bucket) assignment with columns
    ``bucket_cols + [id_col] (+ carry_cols)``. Buckets with n in
    [2, max_bucket] emit all within-bucket pairs (id1 < id2); larger
    buckets emit (min_id, other_id) star edges only. ``carry_cols``
    are propagated to the output as ``<col>1`` / ``<col>2`` (used by
    the Hamming tier to carry the hash values into the verify without
    a second join).

    CONTRACT: each carry column must be a function of the id alone
    (same id ⇒ same value in every bucket row). When a pair collides
    in several buckets the final dropDuplicates keeps ONE row's carry
    values arbitrarily — functional dependence is what makes that
    deterministic. Bucket-dependent values (band index, per-bucket
    scores) must NOT be carried; join them back by id instead.
    """
    carry = carry_cols or []
    # every per-bucket aggregate rides on one window over the slim
    # (bucket, id, carry) rows: the input keeps one consumer, so the
    # plan upstream of it — typically an expensive signature UDF — runs
    # once below the window's Exchange, which the self-join sides and
    # the star branch share. A null bucket key is no bucket; the
    # explicit not-null filter also keeps the branches' subtrees equal
    # (the self-join infers the same one), or the exchange is not reused
    w = Window.partitionBy(*bucket_cols)
    keyed = (
        bucketed.filter(
            reduce(lambda a, b: a & b, [F.col(c).isNotNull() for c in bucket_cols])
        )
        .select(
            *bucket_cols,
            id_col,
            *carry,
            F.count(F.lit(1)).over(w).alias("_n"),
            F.min(id_col).over(w).alias("_minid"),
            # the star center's carried values come from its own rows
            *[F.min_by(c, id_col).over(w).alias(f"_center_{c}") for c in carry],
        )
        .filter(F.col("_n") >= 2)
    )

    small = keyed.filter(F.col("_n") <= max_bucket)
    a = small.select(
        *bucket_cols,
        F.col(id_col).alias("id1"),
        *[F.col(c).alias(f"{c}1") for c in carry],
    )
    b = small.select(
        *bucket_cols,
        F.col(id_col).alias("id2"),
        *[F.col(c).alias(f"{c}2") for c in carry],
    )
    pairs_small = (
        a.join(b, on=bucket_cols)
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", *[f"{c}1" for c in carry], *[f"{c}2" for c in carry])
    )

    pairs_big = keyed.filter(
        (F.col("_n") > max_bucket) & (F.col(id_col) != F.col("_minid"))
    ).select(
        F.col("_minid").alias("id1"),
        F.col(id_col).alias("id2"),
        *[F.col(f"_center_{c}").alias(f"{c}1") for c in carry],
        *[F.col(c).alias(f"{c}2") for c in carry],
    )
    out = pairs_small.unionByName(pairs_big)
    if carry:
        return out.dropDuplicates(["id1", "id2"])
    return out.distinct()
