"""Exact duplicate detection — the reference's 3-stage cascade, Spark-first.

Reference semantics (denizariyan/dedup):
  stage 1  group_by_size          src/grouping.rs:13-24  — free key, HAVING n>=2
  stage 2  group_by_partial_hash  src/hasher.rs:18-27,77-79 — BLAKE3(first 8 KiB)
  stage 3  group_by_full_hash     src/hasher.rs:30-47,83-85 — BLAKE3(whole file)
Each stage keeps only groups with >=2 members (src/grouping.rs:21,
src/hasher.rs:70). Because the final test is exact-hash equality, the
cascade is semantically just ``GROUP BY (size, full_hash) HAVING n >= 2``
(reference README.md:125-146) — the earlier stages exist to avoid reading
content for rows that cannot possibly have a duplicate. We keep that
shape because at 100 TB the same economics hold: hashing every payload is
the expensive pass, so we prune on free columns first.

Scale design notes
------------------
* **Candidate pruning via aggregate + broadcast semi-join**, not a window.
  ``count(*) over (partition by key)`` would shuffle the full rows —
  including the binary payload — to rank them. Instead we aggregate the
  *projected* key columns (map-side partial aggregation handles skew for
  free), keep keys with n>=2, and broadcast-semi-join the key set back.
  The payload column never crosses a shuffle boundary.
* **All aggregations are partial-aggregatable** (count / min / sum), so a
  pathological million-row duplicate cluster combines map-side; no
  salting needed on this path. ``collect_list`` of members is only in the
  small-scale report helper, never the scale path — cluster membership is
  a (id, cluster_id) assignment table instead.
* Null/unreadable payloads are dropped silently, mirroring the
  reference's filter_map skip (src/hasher.rs:57-60).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dedup_spark.config import DEFAULT_CONFIG, DedupConfig


def size_candidates(
    df: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """Stage 1 — group by free key columns, keep keys with >=2 members.

    Mirrors group_by_size (reference src/grouping.rs:13-24). Returns the
    distinct surviving key set (small), suitable for broadcast.
    """
    return (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .drop("_n")
    )


def semi_join_candidates(df: DataFrame, keys: DataFrame, key_cols: list[str]) -> DataFrame:
    """Keep rows whose key appears in the (broadcast) surviving-key set.

    Broadcast keeps the big side's binary payload out of the shuffle; at
    cluster scale AQE falls back to shuffle join only if the key set is
    genuinely huge (meaning most data is duplicated — then the join is
    the right plan anyway).

    The join is NULL-SAFE (`eqNullSafe` per key): stage-1 keys are
    metadata columns that may legitimately be NULL (missing phash/w/h),
    and the key aggregate counts NULL-keyed groups — a plain equi-join
    would silently drop every such row, losing byte-identical
    duplicates with missing metadata. EqualNullSafe is still an
    equi-join predicate, so the broadcast hash join plan is unchanged.
    """
    from functools import reduce

    right = keys.select(*[F.col(c).alias(f"_k_{c}") for c in key_cols])
    cond = reduce(
        lambda a, b: a & b,
        [F.col(c).eqNullSafe(F.col(f"_k_{c}")) for c in key_cols],
    )
    return df.join(F.broadcast(right), on=cond, how="left_semi")


def exact_duplicate_clusters(
    df: DataFrame,
    id_col: str = "image_id",
    payload_col: str = "bytes",
    extra_keys: tuple[str, ...] = ("phash", "w", "h", "fmt"),
    cfg: DedupConfig = DEFAULT_CONFIG,
    fuse_full_hash: bool = True,
) -> DataFrame:
    """Full cascade → assignment table ``(id, cluster_id, size, n_members)``.

    cluster_id = min(id) within the byte-identical group (deterministic,
    no giant arrays materialized). Only rows that ARE duplicates appear,
    matching the reference's "groups with >=2 members" contract.

    Payload-scan budget (the thing that matters at 100 TB): the
    reference's per-file cascade avoids *reads*; in a columnar scan the
    payload column is read in column-chunk passes, so the Spark-right
    plan minimizes PASSES over the payload:

      pass 1  keys only — ``length(payload)`` + extra keys (one scan,
              nothing else computed), aggregated payload-free into the
              stage-1 surviving-key set (broadcast back).
      pass 2  stage-1 survivors only — the full-content sha in one
              projection; the result is a slim (id, len, hash) table,
              localCheckpointed so the group and the join both read
              ~100 B/row instead of the payload. That cut runs the
              stage-1 key aggregate and builds its broadcast at the
              call (AQE executes every shuffle below a
              ``localCheckpoint``, eager or not). The prefix-hash
              grouping (H4) is *subsumed*: any full-hash group with
              n>=2 trivially has a prefix-hash group with n>=2, so a
              separate stage only saves full-hash CPU — and once the
              payload is already in memory for the prefix, hashing the
              rest costs less than a second scan ever would.

    ``fuse_full_hash=False`` restores the reference-faithful 3-pass
    shape (prefix-hash grouping first, full hash computed only for
    prefix-hash survivors — the observable H4 operator). Identical
    output either way; the flag only chooses scan-count vs hash-CPU.

    PRECONDITION on ``extra_keys`` metadata: stage-1 prunes on those
    columns, so they must be deterministic functions of the payload
    (same bytes ⇒ same phash/w/h/fmt). Externally-supplied or
    inconsistent metadata splits true byte-duplicate groups — pass
    ``extra_keys=()`` to fall back to the length-only stage-1 key
    (one extra payload pass, reference-exact semantics). NULL metadata
    is safe either way: NULL keys group and survive null-safely.
    """
    payload = F.col(payload_col)
    base = (
        df.filter(payload.isNotNull())
        .filter(F.length(payload) >= cfg.min_size)
    )
    if cfg.max_size is not None:
        base = base.filter(F.length(payload) <= cfg.max_size)
    base = base.withColumn("_len", F.length(payload))

    # stage 1 key: metadata columns when available (phash/w/h/fmt are
    # necessary conditions for byte equality and live in their own
    # parquet column chunks, so the key-aggregate branch is
    # column-pruned to kilobytes and NEVER decodes the payload — the
    # true analog of the reference's "file size from metadata, content
    # unread". The key branch deliberately skips the payload-derived
    # filters too (an overcounted stage-1 group is harmless: the final
    # HAVING n>=2 on the full hash is what defines a duplicate, and the
    # survivor branch applies the row filters). Without metadata keys
    # (e.g. text payloads) fall back to length(payload), which costs
    # the one payload pass it always did.
    if extra_keys:
        keys1 = list(extra_keys)
        key_src = df.select(*keys1)
    else:
        keys1 = ["_len"]
        key_src = base

    # the key aggregate projects away the payload before its shuffle
    s1 = semi_join_candidates(base, size_candidates(key_src, keys1), keys1)

    # stage 2(+3): hash pass over stage-1 survivors
    # (sha2 is built-in + codegen'd; exact-equality semantics only need
    # *a* collision-resistant hash, not BLAKE3 specifically — see
    # SURVEY.md §1.3)
    prefix = F.sha2(
        F.substring(F.col(payload_col).cast("binary"), 1, cfg.prefix_bytes), 256
    )
    full = F.sha2(F.col(payload_col).cast("binary"), 256)
    keys2 = [*keys1, "_psha"]
    keys3 = ["_len", "_fsha"]

    if fuse_full_hash:
        # single payload pass computing the full hash directly; the
        # prefix-hash grouping (H4) is subsumed by the final HAVING on
        # the full hash, so no stage-2 semi-join. The payload cut: the
        # group and the join below both read this slim table, so the
        # payload is read once. Under AQE the call runs the stage-1 key
        # aggregate and the semi-join's broadcast; the first action
        # that reads the table runs the hash pass.
        members = s1.select(
            id_col, "_len", full.alias("_fsha")
        ).localCheckpoint(eager=False)
    else:
        s2 = s1.withColumn("_psha", prefix)
        s2 = semi_join_candidates(s2, size_candidates(s2, keys2), keys2)
        s3 = s2.withColumn("_fsha", full)
        members = s3.select(id_col, "_len", "_fsha")
    groups = (
        members.groupBy(*keys3)
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min(id_col).alias("cluster_id"),
        )
        .filter(F.col("n_members") >= 2)
    )
    return (
        members.join(F.broadcast(groups), on=keys3, how="inner")
        .select(
            F.col(id_col),
            F.col("cluster_id"),
            F.col("_len").alias("size"),
            F.col("n_members"),
        )
    )


def duplicate_stats(assignments: DataFrame) -> DataFrame:
    """Reference DuplicateStats + report totals (src/output.rs:38-73):
    duplicate_files = Σ n_i over groups; wasted = Σ size_i * (n_i - 1).
    One-row DataFrame: (duplicate_groups, duplicate_rows, wasted_bytes).
    """
    per_group = (
        assignments.groupBy("cluster_id")
        .agg(F.max("size").alias("size"), F.count(F.lit(1)).alias("n"))
    )
    return per_group.agg(
        F.count(F.lit(1)).alias("duplicate_groups"),
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("duplicate_rows"),
        F.coalesce(F.sum(F.col("size") * (F.col("n") - 1)), F.lit(0))
        .cast("long")
        .alias("wasted_bytes"),
    )
