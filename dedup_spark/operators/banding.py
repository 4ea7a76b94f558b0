"""Shared band/bucket candidate generation with the star skew guard.

Every LSH-family tier in this engine (MinHash bands, SimHash/phash
Hamming bands, hyperplane ANN buckets, IVF cells) reduces to the same
shape: rows keyed by (bucket...) → pairs of ids sharing a bucket. A
duplicate flood makes one bucket huge, and emitting its C(n,2) pairs
is the one quadratic blowup no amount of partitioning fixes — so
buckets larger than ``max_bucket`` emit an O(n) STAR to the bucket's
min id instead (connected components restores the full cluster, and a
downstream verify join re-checks every edge it keeps). Both shapes come
from ONE self-join per bucket: a flood offers only its min id to the
join, so the star needs no branch of its own. This module is the single
implementation all tiers share.

The inverted-index tiers (shingle overlap, frame-signature sets, shared
patches, rotation candidates) need the shared-key COUNT per pair, so a
star cannot stand in for a flood there: ``shared_key_pairs`` drops the
flooded key instead, and logs how many it dropped; its postings half,
``key_postings``, is also the substring anchor index. The per-key
statistics (CDC, boilerplate, span excision, suffix-array windows) ask
only ``held_by_two_ids``, one window with nothing joined back.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window, functions as F

from dedup_spark.plans.lineage import count_and_log_drops


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
    buckets emit (min_id, other_id) star edges only. Both come from one
    self-join of each bucket's rows against the members it offers:
    every member of a bucket within the guard, only the min id of a
    larger one. ``carry_cols`` are propagated to the output as
    ``<col>1`` / ``<col>2`` (used by the Hamming tier to carry the
    hash values into the verify without a second join).

    CONTRACT: each carry column must be a function of the id alone
    (same id ⇒ same value in every bucket row). When a pair collides
    in several buckets the final dropDuplicates keeps ONE row's carry
    values arbitrarily — functional dependence is what makes that
    deterministic. Bucket-dependent values (band index, per-bucket
    scores) must NOT be carried; join them back by id instead.
    """
    carry = carry_cols or []
    # the two per-bucket aggregates ride on one window over the slim
    # (bucket, id, carry) rows: the input keeps one consumer, so the
    # plan upstream of it — typically an expensive signature UDF — runs
    # once below the window's Exchange, which both self-join sides
    # share. A null bucket key is no bucket; the explicit not-null
    # filter also keeps the two sides' subtrees equal (the self-join
    # infers the same one), or the exchange is not reused
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
        )
        .filter(F.col("_n") >= 2)
    )
    members = keyed.select(
        *bucket_cols,
        F.col(id_col).alias("id2"),
        *[F.col(c).alias(f"{c}2") for c in carry],
    )
    # a bucket within the guard offers every member to pair with; a
    # flood offers only its min id, so the same join emits its O(n)
    # star, and the center's carry comes from its own row. The full
    # bucket is the join's streamed side: a flood buffers one row
    offers = keyed.filter(
        (F.col("_n") <= max_bucket) | (F.col(id_col) == F.col("_minid"))
    ).select(
        *bucket_cols,
        F.col(id_col).alias("id1"),
        *[F.col(c).alias(f"{c}1") for c in carry],
    )
    return (
        members.join(offers, on=bucket_cols)
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", *[f"{c}1" for c in carry], *[f"{c}2" for c in carry])
        .dropDuplicates(["id1", "id2"])
    )


def held_by_two_ids(key_cols: list[str], id_col: str) -> Column:
    """True on a row whose key is held by >= 2 distinct ids: the key's
    min id is below its max id, two aggregates over one window spec
    (one Window node, one Exchange). A key repeated inside one id only
    is never held by two. min and max skip null ids, so this is the
    distinct-id test only for non-null ids, as at every caller."""
    w = Window.partitionBy(*key_cols)
    return F.min(id_col).over(w) < F.max(id_col).over(w)


def key_postings(
    rows: DataFrame,
    key_col: str,
    max_posting: int | None,
    what: str,
    id_col: str = "_id",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """(key, id, <carry>, _n): the rows of every non-null key held by
    >= 2 rows, ``_n`` its posting count (a window). A key held by more
    than ``max_posting`` rows (None = uncapped) is dropped, the
    posting-list cutoff of IR systems, and the dropped keys are counted
    and logged as ``what``: a capped call cuts the lineage once, on the
    windowed rows that the drop count (a build-time job) and the
    caller's join both read."""
    keyed = rows.filter(F.col(key_col).isNotNull()).select(
        key_col,
        id_col,
        *(carry_cols or []),
        F.count(F.lit(1)).over(Window.partitionBy(key_col)).alias("_n"),
    ).filter(F.col("_n") >= 2)
    if max_posting is None:
        return keyed
    keyed = keyed.localCheckpoint(eager=False)
    count_and_log_drops(
        keyed.filter(F.col("_n") > max_posting).select(key_col, "_n").distinct(),
        max_posting,
        what,
    )
    return keyed.filter(F.col("_n") <= max_posting)


def shared_key_pairs(
    rows: DataFrame,
    key_col: str,
    max_posting: int | None,
    what: str,
    id_col: str = "_id",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """(id1, id2, n_shared, <carry>1, <carry>2), id1 < id2: every pair
    of ids sharing a key, and how many keys they share.

    ``rows`` holds one row per distinct (key, id); ``carry_cols`` keep
    the `star_guarded_pairs` contract. Both self-join sides read the
    capped `key_postings`."""
    carry = carry_cols or []
    keyed = key_postings(rows, key_col, max_posting, what, id_col, carry)
    a = keyed.select(
        key_col, F.col(id_col).alias("id1"), *[F.col(c).alias(f"{c}1") for c in carry]
    )
    b = keyed.select(
        key_col, F.col(id_col).alias("id2"), *[F.col(c).alias(f"{c}2") for c in carry]
    )
    ends = ["id1", "id2", *[f"{c}1" for c in carry], *[f"{c}2" for c in carry]]
    return (
        a.join(b, on=key_col)
        .filter(F.col("id1") < F.col("id2"))
        .groupBy(*ends)
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .select("id1", "id2", "n_shared", *ends[2:])
    )
