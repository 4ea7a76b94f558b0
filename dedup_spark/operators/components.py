"""Distributed connected components — large-star / small-star iteration.

Transitive clustering of verified near-duplicate pairs (the reference's
exact-hash equivalence classes are transitive for free; Jaccard/Hamming
edges are not, so the north rule mandates an explicit CC pass).

Algorithm: alternating large-star / small-star label propagation
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14 — public algorithm):

  large-star: every node points its LARGER neighbors at its current
              minimum neighbor (including itself)
  small-star: every node points its smaller-or-equal neighbors at the
              minimum
  repeat until the edge set is stable → every node points directly at
  its component's minimum id.

Each iteration is two shuffles (groupBy min + explode join). The edge
DataFrame is localCheckpointed every iteration to truncate the lineage
(otherwise the plan doubles per round and the driver OOMs planning, not
executing). With a durable checkpoint_dir the intermediate edge set is
also persisted per iteration with a manifest, so a killed job resumes
from the last completed iteration instead of restarting — the north
rule's checkpoint-resume requirement (analog of the reference's
"already hardlinked → skip", src/actions.rs:70-80).

Convergence: O(log n) iterations; a hash-equality check on the relabeled
edge multiset decides the stop (counting changed rows — one cheap agg
per iteration).
"""

from __future__ import annotations

import json
import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from dedup_spark.config import DEFAULT_CONFIG, DedupConfig
from dedup_spark.plans.lineage import StageMetrics


def _canonical_edges(edges: DataFrame) -> DataFrame:
    """Normalize to src < dst, drop self-loops and duplicates."""
    e = edges.select(
        F.least("id1", "id2").alias("src"), F.greatest("id1", "id2").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    return e.distinct()


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every node's larger neighbors to its minimum neighbor."""
    # undirected neighborhood: emit both directions
    nbrs = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionAll(
        edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    mins = nbrs.groupBy("u").agg(F.min("v").alias("m"))
    mins = mins.withColumn("m", F.least("u", "m"))
    # no .distinct() here: duplicate edges are harmless for the
    # min-aggregations downstream and small-star's terminal distinct
    # dedupes the iteration's output — saves one full shuffle per round
    return (
        nbrs.join(mins, "u")
        .filter(F.col("v") > F.col("u"))  # large neighbors only
        .select(F.col("m").alias("src"), F.col("v").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Connect every node's smaller-or-equal neighbors to the minimum."""
    directed = edges.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    )
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    relinked = (
        directed.join(mins, "u")
        .select(F.col("m").alias("src"), F.col("v").alias("dst"))
        .unionAll(mins.select(F.col("m").alias("src"), F.col("u").alias("dst")))
    )
    return (
        relinked.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst"))
        .distinct()
    )


def _ckpt_path(cfg: DedupConfig, it: int) -> str:
    return os.path.join(cfg.checkpoint_dir, f"cc_iter_{it:03d}")


def _manifest_path(cfg: DedupConfig) -> Path:
    return Path(cfg.checkpoint_dir) / "cc_manifest.json"


def connected_components(
    edges: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    metrics: StageMetrics | None = None,
) -> DataFrame:
    """(id1, id2) edge list → (id, cluster_id) assignment, cluster_id =
    min id of the component. Includes every node that appears in an edge.
    """
    spark = edges.sparkSession
    metrics = metrics or StageMetrics("connected_components")

    e = _canonical_edges(edges)
    start_iter = 0

    # resume from a durable checkpoint if one exists (north rule)
    if cfg.checkpoint_dir:
        mp = _manifest_path(cfg)
        if mp.exists():
            m = json.loads(mp.read_text())
            if not m.get("converged"):
                start_iter = m["last_iteration"] + 1
                e = spark.read.parquet(_ckpt_path(cfg, m["last_iteration"]))
    e = e.localCheckpoint(eager=True)

    def _sig(df: DataFrame) -> tuple:
        """Cheap edge-set fingerprint: (count, Σ h1, Σ h2) with two
        INDEPENDENT xxhash64 folds (the second mixes in a constant, so
        its hash stream is uncorrelated with the first). One
        partial-aggregatable job instead of two exceptAll joins. A sum
        multiset hash is weaker than a set compare — colliding subsets
        can cancel — but a silent premature convergence now needs both
        64-bit folds to collide simultaneously (~2^-128 per iteration),
        and the count must match too."""
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("h1"),
            F.coalesce(
                F.sum(
                    F.xxhash64(F.lit(0x5EED), "src", "dst").cast("decimal(38,0)")
                ),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("h2"),
        ).first()
        return (row["n"], str(row["h1"]), str(row["h2"]))

    prev = _sig(e)
    for it in range(start_iter, cfg.cc_max_iterations):
        with metrics.stage(f"iter_{it}"):
            e2 = _small_star(_large_star(e)).localCheckpoint(eager=True)
            cur = _sig(e2)
            metrics.record(f"iter_{it}_edges", cur[0])
            converged = cur == prev
            if cfg.checkpoint_dir:
                e2.write.mode("overwrite").parquet(_ckpt_path(cfg, it))
                _manifest_path(cfg).write_text(
                    json.dumps({"last_iteration": it, "converged": converged})
                )
            e, prev = e2, cur
            if converged:
                break
    else:
        raise RuntimeError(
            f"connected components did not converge in {cfg.cc_max_iterations} iterations"
        )

    # at convergence every dst points at its component min (src)
    assign = e.select(F.col("dst").alias("id"), F.col("src").alias("cluster_id"))
    roots = e.select(F.col("src").alias("id")).distinct().withColumn(
        "cluster_id", F.col("id")
    )
    return assign.unionByName(roots).distinct()


def clusters_from_pairs(
    pairs: DataFrame,
    all_ids: DataFrame | None = None,
    id_col: str = "image_id",
    cfg: DedupConfig = DEFAULT_CONFIG,
    metrics: StageMetrics | None = None,
) -> DataFrame:
    """Pairs → full assignment table. If all_ids is given, singleton rows
    (no near-dup) get their own cluster_id = id, matching the generator's
    ground-truth shape. ``metrics`` receives the per-iteration walls and
    edge counts of :func:`connected_components`."""
    cc = connected_components(pairs, cfg, metrics)
    if all_ids is None:
        return cc.withColumnRenamed("id", id_col)
    base = all_ids.select(F.col(id_col))
    merged = base.join(cc.withColumnRenamed("id", id_col), on=id_col, how="left")
    return merged.withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col))
    )


def incremental_cc_update(
    assign: DataFrame,
    new_edges: DataFrame,
    new_ids: DataFrame | None = None,
    id_col: str = "id",
    cfg: DedupConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Fold a batch of NEW edges (and optionally new nodes) into an
    existing ``(id, cluster_id)`` assignment WITHOUT re-clustering the
    corpus — the daily-crawl increment (the batch analog of
    streaming/incremental.py's exact-hash state table, generalized to
    transitive near-dup edges).

    Contract: the result equals ``connected_components`` over (the
    edge set the assignment summarizes) ∪ ``new_edges``, with min-id
    roots. Correct because the old assignment is a star forest whose
    roots ARE the old component minima: contracting each new edge's
    endpoints to their current roots (unknown ids root to themselves)
    preserves reachability, and the contracted graph's min-id labels
    equal the merged components' minima (min over a union of old
    clusters is the min over their old roots and any new ids).

    Scale shape — the reason to ever do this instead of re-running CC:
      * the star loop runs on the CONTRACTED batch graph only —
        O(new edges) rows, never O(corpus);
      * the corpus-sized ``assign`` table is touched by exactly ONE
        equi-join on ``cluster_id`` against the batch-sized root remap
        (broadcast below the autoBroadcast threshold — AQE picks the
        strategy from the REAL post-CC size at runtime, so a pathological
        batch that merges most of the corpus degrades to a shuffle join
        instead of OOMing the driver);
      * applying the same batch twice is a no-op by construction
        (already-merged endpoints contract to one root → self-loop →
        dropped; empty contracted graph → empty remap), giving
        at-least-once replay safety like the Bloom state table.

    ``new_ids``: ids introduced by the batch (one ``id_col`` column);
    covers isolated new nodes that appear in no edge. Ids only seen in
    ``new_edges`` are included automatically.
    """
    rm = "_new_root"
    a1 = assign.select(F.col(id_col).alias("id1"), F.col("cluster_id").alias("r1"))
    a2 = assign.select(F.col(id_col).alias("id2"), F.col("cluster_id").alias("r2"))
    contracted = (
        new_edges.select("id1", "id2")
        .join(a1, "id1", "left")
        .join(a2, "id2", "left")
        .select(
            F.coalesce("r1", F.col("id1")).alias("id1"),
            F.coalesce("r2", F.col("id2")).alias("id2"),
        )
        .filter(F.col("id1") != F.col("id2"))
    )
    # (old root | new id) -> merged-component min id; batch-sized
    remap = connected_components(contracted, cfg).select(
        F.col("id").alias("_old_root"), F.col("cluster_id").alias(rm)
    ).localCheckpoint(eager=True)

    updated = (
        assign.join(remap, assign["cluster_id"] == F.col("_old_root"), "left")
        .select(
            F.col(id_col),
            F.coalesce(rm, "cluster_id").alias("cluster_id"),
        )
    )

    batch_nodes = new_edges.select(F.col("id1").alias(id_col)).unionByName(
        new_edges.select(F.col("id2").alias(id_col))
    )
    if new_ids is not None:
        batch_nodes = batch_nodes.unionByName(new_ids.select(F.col(id_col)))
    fresh = (
        batch_nodes.distinct()
        .join(assign.select(id_col), id_col, "left_anti")
        .join(remap, F.col(id_col) == F.col("_old_root"), "left")
        .select(
            F.col(id_col),
            F.coalesce(rm, F.col(id_col)).alias("cluster_id"),
        )
    )
    return updated.unionByName(fresh)
