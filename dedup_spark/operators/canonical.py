"""Canonical-member selection + idempotent assignment writes.

Reference: ``select_original`` keeps the file with the shortest path
string (src/actions.rs:21-26) — argmin over (len(path), path). The
hardlink action (src/actions.rs:35-115) becomes a metadata-level
"keep-one-per-cluster" projection: there is no filesystem to mutate at
cluster scale, so the sink is an assignment table
``(id, cluster_id, is_canonical)`` written atomically, and "already
hardlinked → skip" (src/actions.rs:70-80) becomes an idempotent
anti-join merge so a resumed job never redoes finished rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def with_canonical(assignments: DataFrame, id_col: str = "image_id") -> DataFrame:
    """Mark the canonical member of each cluster.

    Canonical = argmin over (length(id), id) — the reference's
    shortest-path rule (src/actions.rs:21-26) with the same
    deterministic tie-break (lexicographic on equal lengths).

    One window over cluster_id gives each row its cluster's canonical
    id: the assignment table is already slim (ids and a size), and
    clusters number about as many as rows at scale, so an aggregate
    joined back would shuffle the same rows twice. ``cluster_id`` stays
    the first output column.
    """
    canonical_id = F.min_by(
        F.col(id_col),
        F.struct(
            F.length(F.col(id_col).cast("string")),
            F.col(id_col).cast("string"),
        ),
    ).over(Window.partitionBy("cluster_id"))
    return assignments.select(
        "cluster_id",
        *[c for c in assignments.columns if c != "cluster_id"],
        (F.col(id_col) == canonical_id).alias("is_canonical"),
    )


def action_summary(marked: DataFrame) -> DataFrame:
    """The hardlink ActionResult analog (src/actions.rs:10-18):
    rows_linked = non-canonical members; bytes_saved = their sizes.
    One-row DataFrame (rows_linked, bytes_saved).
    """
    dup = marked.filter(~F.col("is_canonical"))
    return dup.agg(
        F.count(F.lit(1)).alias("rows_linked"),
        F.coalesce(F.sum("size"), F.lit(0)).cast("long").alias("bytes_saved"),
    )


def merge_assignments(
    new: DataFrame,
    existing: DataFrame | None,
    id_col: str = "image_id",
) -> DataFrame:
    """Idempotent merge: rows whose id is already assigned are skipped —
    the Spark analog of the inode-equality "already linked" check
    (src/actions.rs:70-80). With Iceberg this is MERGE INTO; the
    portable form is anti-join + union, which a checkpointed re-run
    applies to produce exactly zero new rows ("Linked 0 files",
    reference tests/hardlink.rs:60-85).
    """
    if existing is None:
        return new
    fresh = new.join(
        existing.select(id_col), on=id_col, how="left_anti"
    )
    return existing.unionByName(fresh, allowMissingColumns=True)
