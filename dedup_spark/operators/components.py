"""Connected components: a one-task local finish for graphs within an
edge budget, distributed large-star / small-star iteration above it.

Transitive clustering of verified near-duplicate pairs (the reference's
exact-hash equivalence classes are transitive for free; Jaccard/Hamming
edges are not, so the north rule mandates an explicit CC pass).

Local finish: once the canonical edge set holds at most
``_LOCAL_EDGE_BUDGET`` edges, it is coalesced into ONE task whose
``mapInPandas`` factorizes the ids (sorted, so code order is id order)
and runs numpy min-label propagation with pointer jumping. The edges
never reach the driver and the result has the schema and labels of the
star loop. Every star round costs a handful of Spark jobs (AQE stages of
its shuffles plus the convergence check); a graph of a few thousand
edges takes one batch-vectorized Python pass instead ("fewer, fused,
batch-vectorized Python invocations", CIDR'22).

Star loop, above the budget: alternating large-star / small-star label
propagation (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14 — public algorithm):

  large-star: every node points its LARGER neighbors at its current
              minimum neighbor (including itself)
  small-star: every node points its smaller-or-equal neighbors at the
              minimum
  repeat until the edge set is stable → every node points directly at
  its component's minimum id.

Each iteration is two shuffles (groupBy min + explode join). The edge
DataFrame is localCheckpointed every iteration to truncate the lineage
(otherwise the plan doubles per round and the driver OOMs planning, not
executing). Under AQE the ``eager=False`` call runs the round's two
shuffles at once; the round's convergence check is the job that
materializes the checkpointed edges. A round that leaves the edge set
within the budget hands it to the local finish. With a durable checkpoint_dir
the intermediate edge set is also persisted per iteration with a
manifest, so a killed job resumes from the last completed iteration
instead of restarting — the north rule's checkpoint-resume requirement
(analog of the reference's "already hardlinked → skip",
src/actions.rs:70-80).

Convergence: O(log n) iterations; a hash-equality check on the relabeled
edge multiset decides the stop (counting changed rows — one cheap agg
per iteration).
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from dedup_spark.config import DEFAULT_CONFIG, DedupConfig
from dedup_spark.plans.lineage import StageMetrics


# Edge count at or below which CC finishes in one task. Measured on a
# 4-core host with random 9-character string ids (m edges over m ids):
# at 10^5 edges the local finish took 1.4 s against 12.2 s for the star
# loop (7 rounds), at 10^6 edges 8.8 s against 86 s. The numpy core on
# 10^6 edges takes 3.6 s and ~60 MB above the ~0.35 GB pandas frame of
# the edges, which bounds what one task holds.
_LOCAL_EDGE_BUDGET = 1_000_000


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


def _min_labels(u: np.ndarray, v: np.ndarray, n: int) -> np.ndarray:
    """Component minimum of every node 0..n-1 of the edge list (u, v).

    Min-label propagation with pointer jumping: each round hooks the
    larger root of every edge whose endpoints still differ onto the
    smaller one, then jumps every node to its root. ``lab[x] <= x``
    holds throughout, so a component's final root is its minimum node.
    Every unfinished tree merges each round: O(log n) rounds (10 on a
    randomly labelled 10^5-node path)."""
    lab = np.arange(n, dtype=np.int64)
    while True:
        a, b = lab[u], lab[v]
        live = a != b
        if not live.any():
            return lab
        u, v, a, b = u[live], v[live], a[live], b[live]
        np.minimum.at(lab, np.maximum(a, b), np.minimum(a, b))
        while True:
            jumped = lab[lab]
            if np.array_equal(jumped, lab):
                break
            lab = jumped


def _local_labels(batches):
    """mapInPandas body of the local finish: every (src, dst) batch of
    the one task → (id, cluster_id = component min id). The sorted
    factorize makes code order the id order Spark compares by (binary
    order for strings: UTF-8 byte order is code-point order)."""
    frames = list(batches)
    if not frames:
        return
    pdf = pd.concat(frames, ignore_index=True)
    m = len(pdf)
    codes, ids = pd.factorize(
        np.concatenate([pdf["src"].to_numpy(), pdf["dst"].to_numpy()]), sort=True
    )
    lab = _min_labels(codes[:m], codes[m:], len(ids))
    yield pd.DataFrame({"id": ids, "cluster_id": ids[lab]})


def _ckpt_path(cfg: DedupConfig, it: int) -> str:
    return os.path.join(cfg.checkpoint_dir, f"cc_iter_{it:03d}")


def _manifest_path(cfg: DedupConfig) -> Path:
    return Path(cfg.checkpoint_dir) / "cc_manifest.json"


def _finish_locally(
    e: DataFrame, n: int, cfg: DedupConfig, metrics: StageMetrics
) -> DataFrame:
    """The budget-sized edge set (``n`` edges) → (id, cluster_id) in one
    task. The stage wall covers building the plan only: the numpy pass
    runs in the first job that reads the result."""
    with metrics.stage("local_finish"):
        metrics.record("local_finish_edges", n)
        if cfg.checkpoint_dir:
            mp = _manifest_path(cfg)
            mp.parent.mkdir(parents=True, exist_ok=True)
            mp.write_text(
                json.dumps({"local_finish": True, "edges": n, "converged": True})
            )
        t = e.schema["src"].dataType
        schema = T.StructType([T.StructField("id", t), T.StructField("cluster_id", t)])
        return e.coalesce(1).mapInPandas(_local_labels, schema=schema)


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


def connected_components(
    edges: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    metrics: StageMetrics | None = None,
) -> DataFrame:
    """(id1, id2) edge list → (id, cluster_id) assignment, cluster_id =
    min id of the component. Includes every node that appears in an edge.

    ``metrics`` says which path ran: an ``iter_<n>`` wall plus
    ``iter_<n>_edges`` count per star round, and a ``local_finish``
    stage plus its ``local_finish_edges`` count once the edge set fits
    ``_LOCAL_EDGE_BUDGET``.
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
    # The one deliberate build-time barrier of the fused pipeline: the
    # path choice below needs the edge count. Under AQE this call runs
    # every shuffle below it — every tier's candidate and verify jobs —
    # and the fingerprint is the job that materializes the edge set.
    e = e.localCheckpoint(eager=False)

    prev = _sig(e)
    if prev[0] <= _LOCAL_EDGE_BUDGET:
        return _finish_locally(e, prev[0], cfg, metrics)
    for it in range(start_iter, cfg.cc_max_iterations):
        with metrics.stage(f"iter_{it}"):
            e2 = _small_star(_large_star(e)).localCheckpoint(eager=False)
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
        if cur[0] <= _LOCAL_EDGE_BUDGET:
            return _finish_locally(e, cur[0], cfg, metrics)
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
    ground-truth shape. ``metrics`` receives the path metrics of
    :func:`connected_components`."""
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
      * CC runs on the CONTRACTED batch graph only —
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
    ).localCheckpoint(eager=False)

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
