"""The flagship three-tier near-duplicate pipeline (north rule):

  tier 1  exact cascade        — metadata pre-group → single payload
                                 hash pass (operators.exact)
  tier 2  caption MinHash-LSH  — shingle signatures → band join →
                                 exact-Jaccard verify (operators.minhash)
  tier 3  phash SimHash bands  — Hamming-radius candidates → bit_count
                                 verify (operators.simhash)
  union of verified edges → connected components (one task within the
  edge budget, checkpoint-resumable large-star/small-star above it) →
  full assignment table → canonical marking.

One function, used by bench.py, jobs/dedup_job.py, the streaming
incremental path, and the parity tests — so the measured pipeline IS
the shipped pipeline.

Building the DataFrame is not free. Under AQE a ``localCheckpoint``
runs every shuffle below it at the call, ``eager=False`` or not, so
the build runs the jobs of two lineage cuts:

  * the exact tier's payload cut runs the stage-1 key aggregate and
    its broadcast semi-join;
  * connected components' edge checkpoint plus its ``_sig`` count —
    the one deliberate barrier, since the local-or-star choice needs
    the edge count — runs every tier's candidate and verify jobs.

The banding checkpoints of the two LSH tiers have no shuffle below
them and start no job. So each ``metrics.stage`` wall times plan
construction plus the jobs of the cuts inside it: ``exact_cascade``
holds the payload cut's jobs, ``connected_components`` holds every
tier's work, and ``caption_minhash_lsh`` / ``phash_hamming`` hold
plan construction only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dedup_spark.config import DEFAULT_CONFIG, DedupConfig
from dedup_spark.operators.canonical import with_canonical
from dedup_spark.operators.components import clusters_from_pairs
from dedup_spark.operators.exact import exact_duplicate_clusters
from dedup_spark.operators.minhash import minhash_near_duplicates
from dedup_spark.operators.simhash import phash_near_duplicates
from dedup_spark.plans.lineage import StageMetrics


def dedup_pipeline(
    df: DataFrame,
    id_col: str = "image_id",
    payload_col: str = "bytes",
    caption_col: str | None = "caption",
    phash_col: str | None = "phash",
    cfg: DedupConfig = DEFAULT_CONFIG,
    metrics: StageMetrics | None = None,
    include_singletons: bool = True,
    caption_band_bucket: int | None = None,
    phash_band_bucket: int | None = None,
) -> DataFrame:
    """input table → (id, cluster_id, is_canonical) assignment.

    Tiers are independent edge producers; disable one by passing its
    column as None. Edges never carry the payload; the union feeds a
    single CC pass so transitive chains across tiers (A exact-dup B,
    B caption-near C) land in one cluster.

    ``caption_band_bucket`` / ``phash_band_bucket`` forward to the
    tiers' star-guard thresholds (None keeps the flood-safe pipeline
    defaults). Pair-set-exact callers — the driver oracle compares the
    fused cluster table against an exact SQL recompute — pass large
    headroom so a duplicate flood cannot star-collapse a band bucket
    and change the pair set (cluster-level recall survives either way).
    """
    metrics = metrics or StageMetrics("dedup_pipeline")
    edge_parts = []

    with metrics.stage("exact_cascade"):
        extra = tuple(
            c for c in (phash_col, "w", "h", "fmt") if c and c in df.columns
        )
        exact = exact_duplicate_clusters(
            df, id_col=id_col, payload_col=payload_col, extra_keys=extra, cfg=cfg
        )
        edge_parts.append(
            exact.select(
                F.col(id_col).alias("id1"), F.col("cluster_id").alias("id2")
            )
        )

    if caption_col is not None and caption_col in df.columns:
        with metrics.stage("caption_minhash_lsh"):
            kw = (
                {}
                if caption_band_bucket is None
                else {"max_band_bucket": caption_band_bucket}
            )
            near_txt = minhash_near_duplicates(
                df, id_col=id_col, text_col=caption_col, cfg=cfg, **kw
            )
            edge_parts.append(near_txt.select("id1", "id2"))

    if phash_col is not None and phash_col in df.columns:
        with metrics.stage("phash_hamming"):
            kw = (
                {}
                if phash_band_bucket is None
                else {"max_band_bucket": phash_band_bucket}
            )
            near_img = phash_near_duplicates(
                df, id_col=id_col, hash_col=phash_col, cfg=cfg, **kw
            )
            edge_parts.append(near_img.select("id1", "id2"))

    edges = edge_parts[0]
    for e in edge_parts[1:]:
        edges = edges.unionByName(e)

    with metrics.stage("connected_components"):
        assigned = clusters_from_pairs(
            edges,
            all_ids=df if include_singletons else None,
            id_col=id_col,
            cfg=cfg,
            metrics=metrics,
        )

    with metrics.stage("canonical"):
        out = with_canonical(assigned, id_col=id_col)
    return out
