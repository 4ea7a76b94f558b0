"""dedup_spark — a PySpark-native near-duplicate detection + clustering engine.

A from-scratch re-expression of the semantics of denizariyan/dedup
(reference at /root/reference, Rust CLI for exact byte-duplicate file
grouping) as an idiomatic, cluster-scale PySpark engine over tables of
image+caption rows:

  stage 1 — cheap pre-grouping on free columns (``length(bytes)``, ``phash``)
            mirroring the reference's group-by-size (src/grouping.rs:13-24)
  stage 2 — prefix-hash / signature pruning mirroring the 8 KiB partial
            hash (src/hasher.rs:18-27) — exact tier uses
            ``sha2(substring(bytes, 1, 8192))``; near-dup tier uses
            MinHash / SimHash LSH band keys
  stage 3 — full verification mirroring the full-content hash
            (src/hasher.rs:30-47) — exact ``sha2(bytes)`` equality, or
            Jaccard / Hamming recompute on candidate pairs
  stage 4 — transitive clustering via connected components: one task
            within an edge budget, distributed large-star / small-star
            above it, checkpoint-resumable

Everything is DataFrame-first: built-in ``pyspark.sql.functions`` in the
hot path, Arrow-vectorized pandas UDFs where Spark lacks a primitive,
no row-at-a-time Python anywhere.
"""

from dedup_spark.config import DedupConfig
from dedup_spark.session import get_spark

__all__ = ["DedupConfig", "get_spark"]
__version__ = "0.1.0"
