"""Incremental NEAR-duplicate dedup — the fuzzy tier as a stream.

The exact tier's streaming form (incremental.py) answers "seen these
bytes before?" with a content-hash state table. At ingest scale the
harder question is "seen something LIKE this before?" — every new
micro-batch of documents must be clustered against all history without
recomputing history. Design (all state is TABLES, never executor
memory — the foreachBatch pattern, not applyInPandasWithState, because
band state is O(corpus)):

  * ``bands`` state: one row per (band_idx, band_hash, doc_id) ever
    ingested — the LSH index as a table. A new doc's candidates are
    one equi-join of its bands against this (bucketable on the band
    key at Iceberg scale, the same storage-partitioned-join story as
    the exact tier's state).
  * ``docs`` state: (doc_id, text) for exact-Jaccard verification of
    candidates (only candidate endpoints are ever re-shingled — the
    batch left-semi-joins its corpus to them before the verify, so
    per-batch verify cost is O(candidate pairs), not O(history)).
  * assignments (out_dir): append-only (doc_id, cluster_id); the
    cluster id of a new doc is resolved at ingest time.
  * ``alias`` state: (child_cluster, parent_cluster) — when a new doc
    connects two previously-separate clusters they MERGE; instead of
    rewriting history (an O(corpus) update per merge), the append-only
    alias forest records it and ``resolve_assignments`` labels its
    trees by connected components at read time (the forest is
    O(#merges), tiny; a production compactor would periodically fold
    it into the assignment table).

Correctness contract (oracle-gated in __spark_entry__.py): with
batches arriving in doc_id order and pair-set-exact banding (band-safe
threshold + guard headroom), the resolved streaming assignment equals
the BATCH connected-components result — cluster_id = min doc_id of the
transitive closure — because (a) every true pair is discovered when
its later member arrives, (b) the per-batch delta-CC labels each delta
component by its min node, and (c) merges alias larger cluster ids
down to smaller ones, so min-ness propagates through the alias chain.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from dedup_spark.config import DEFAULT_CONFIG, DedupConfig
from dedup_spark.operators.banding import star_guarded_pairs
from dedup_spark.operators.components import connected_components
from dedup_spark.operators.minhash import jaccard_verify, signature_bands
from dedup_spark.sources.catalog import read_or_none


def fuzzy_process_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: DedupConfig = DEFAULT_CONFIG,
    max_band_bucket: int = 64,
    bands_table: str | None = None,
    n_buckets: int = 16,
) -> None:
    """One micro-batch of (id, text) rows: cluster against everything
    seen so far, append assignments + state. Idempotent on replay: the
    assignment append anti-joins already-assigned ids, and state
    appends anti-join already-ingested ids (a crashed-and-replayed
    batch converges, same contract as the exact tier).

    ``bands_table`` switches the band state from a bare parquet dir to
    a metastore table BUCKETED on the candidate-join key
    (band_idx, band_hash) — the same scale contract as the exact tier's
    bucketed content-hash state (incremental.py): the band index is the
    side that grows with the corpus (rows = docs x num_bands), and
    bucketing makes the per-batch new↔history candidate join read it
    shuffle-free — only the small micro-batch side exchanges
    (plan-asserted in tests/test_streaming.py). The Iceberg analog is a
    bucket(N, band_hash) partition transform with storage-partitioned
    joins. The docs/assignment states join on doc_id only for
    idempotence anti-joins and candidate-restricted verify; the same
    treatment applies but the band join dominates."""
    bands_dir, docs_dir = f"{state_dir}/bands", f"{state_dir}/docs"
    alias_dir = f"{state_dir}/alias"

    new_docs = (
        batch.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.col(text_col).alias("text"),
        )
        .filter(F.col("text").isNotNull())
        .localCheckpoint(eager=True)
    )

    banded_new = signature_bands(
        new_docs, "doc_id", "text", cfg, out_id="doc_id"
    ).localCheckpoint(eager=True)  # consumed by 3 paths below

    # candidates: new↔new within the batch (star-guarded, like batch
    # mode) and new↔old against the band-state table
    nn = star_guarded_pairs(
        banded_new, ["band_idx", "band_hash"], max_band_bucket, id_col="doc_id"
    )
    old_bands = read_or_none(
        (lambda: spark.table(bands_table))
        if bands_table is not None
        else (lambda: spark.read.parquet(bands_dir))
    )
    if old_bands is not None:
        no = (
            banded_new.alias("n")
            .join(
                old_bands.alias("o"),
                on=["band_idx", "band_hash"],
                how="inner",
            )
            .select(
                F.least(F.col("o.doc_id"), F.col("n.doc_id")).alias("id1"),
                F.greatest(F.col("o.doc_id"), F.col("n.doc_id")).alias("id2"),
            )
            .filter(F.col("id1") != F.col("id2"))
            .dropDuplicates(["id1", "id2"])
        )
        cand = nn.select("id1", "id2").unionByName(no).dropDuplicates(
            ["id1", "id2"]
        )
    else:
        cand = nn.select("id1", "id2")

    # verify needs texts for both sides; olds come from the docs state.
    # Only candidate endpoints are shingled: the corpus is all history,
    # so the prune keeps the verify O(candidates), not O(corpus)
    old_docs = read_or_none(lambda: spark.read.parquet(docs_dir))
    corpus = (
        new_docs if old_docs is None
        else new_docs.unionByName(old_docs.select("doc_id", "text"))
    )
    ends = cand.select(F.col("id1").alias("doc_id")).unionByName(
        cand.select(F.col("id2").alias("doc_id"))
    )
    corpus = corpus.join(ends, on="doc_id", how="left_semi")
    edges = jaccard_verify(
        corpus, cand, id_col="doc_id", text_col="text", cfg=cfg
    ).select("id1", "id2")

    # delta graph: old endpoints collapse to their CURRENT resolved
    # cluster, then one small distributed CC labels the delta
    prev_assign = read_or_none(lambda: spark.read.parquet(out_dir))
    if prev_assign is not None:
        resolved = resolve_assignments(spark, out_dir, alias_dir).select(
            F.col("doc_id").alias("_old"), F.col("cluster_id").alias("_oc")
        )
        e1 = edges.join(
            resolved, edges["id1"] == resolved["_old"], "left"
        ).select(
            F.coalesce("_oc", "id1").alias("id1"), "id2"
        )
        edges = e1.join(
            resolved, e1["id2"] == resolved["_old"], "left"
        ).select(
            "id1", F.coalesce("_oc", "id2").alias("id2")
        )
    cc = connected_components(edges.localCheckpoint(eager=True))

    # assignments for every new doc (matched → component label,
    # singleton → own id); idempotent append
    labels = cc.select(F.col("id").alias("doc_id"), "cluster_id")
    assign = (
        new_docs.select("doc_id")
        .join(labels, on="doc_id", how="left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("doc_id")))
    )
    if prev_assign is not None:
        assign = assign.join(
            prev_assign.select("doc_id"), on="doc_id", how="left_anti"
        )
    assign.write.mode("append").parquet(out_dir)

    # merges: an OLD cluster node whose delta label is smaller than
    # itself aliases down (append-only; resolution at read time)
    if prev_assign is not None:
        new_ids = new_docs.select(F.col("doc_id").alias("id"))
        merges = (
            cc.join(new_ids, on="id", how="left_anti")  # old cluster nodes
            .filter(F.col("cluster_id") < F.col("id"))
            .select(
                F.col("id").alias("child"), F.col("cluster_id").alias("parent")
            )
        )
        merges.write.mode("append").parquet(alias_dir)

    # state appends (anti-join = replay idempotence)
    nb, nd = banded_new, new_docs
    if old_docs is not None:
        seen = old_docs.select("doc_id")
        nb = nb.join(seen, on="doc_id", how="left_anti")
        nd = nd.join(seen, on="doc_id", how="left_anti")
    if bands_table is not None:
        (
            nb.write.mode("append")
            .bucketBy(n_buckets, "band_idx", "band_hash")
            .sortBy("band_idx", "band_hash")
            .format("parquet")
            .saveAsTable(bands_table)
        )
    else:
        nb.write.mode("append").parquet(bands_dir)
    nd.write.mode("append").parquet(docs_dir)


def compact_aliases(
    spark: SparkSession, out_dir: str, alias_dir: str
) -> int:
    """Fold the alias forest into the assignment table: rewrite every
    assignment to its resolved root, then truncate the forest. The
    forest is O(#merges) and read-time resolution costs a
    connected-components pass over it; a production job runs this
    periodically (per N batches) so reads go back to being one cheap
    join. Returns #aliases folded.

    Crash-safety on bare parquet (Iceberg would make the two writes one
    transaction): the resolved table is materialized eagerly BEFORE
    either store is touched. A crash after the assignment overwrite but
    before the forest truncate is benign — resolved cluster ids are
    forest ROOTS, and a root is never a child in the same forest
    (it is its tree's minimum), so re-applying the stale forest is
    the identity and re-running the compactor converges."""
    alias = read_or_none(lambda: spark.read.parquet(alias_dir))
    n = int(alias.count()) if alias is not None else 0
    if n == 0:
        return 0
    resolved = resolve_assignments(spark, out_dir, alias_dir).localCheckpoint(
        eager=True
    )
    resolved.write.mode("overwrite").parquet(out_dir)
    # an EMPTY frame built from the schema, not alias.limit(0): writing
    # a plan that reads alias_dir over alias_dir is a self-overwrite
    spark.createDataFrame([], alias.schema).write.mode("overwrite").parquet(
        alias_dir
    )
    return n


def resolve_assignments(
    spark: SparkSession, out_dir: str, alias_dir: str
) -> DataFrame:
    """Assignments with the alias forest resolved to roots, then ONE
    join against the assignment table. Every alias points to a smaller
    id (child > parent), so each tree's root is its minimum: the
    connected-components label of the (tiny) alias edge set. Returns
    (doc_id, cluster_id)."""
    assign = spark.read.parquet(out_dir)
    alias = read_or_none(lambda: spark.read.parquet(alias_dir))
    if alias is None:
        return assign.select("doc_id", "cluster_id")
    roots = connected_components(
        alias.select(F.col("child").alias("id1"), F.col("parent").alias("id2"))
    ).select(F.col("id").alias("child"), F.col("cluster_id").alias("root"))
    return (
        assign.join(roots, assign["cluster_id"] == roots["child"], "left")
        .select("doc_id", F.coalesce("root", "cluster_id").alias("cluster_id"))
    )
