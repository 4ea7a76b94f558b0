#!/usr/bin/env python
"""spark-submit entry point — the reference CLI (src/main.rs:15-70)
re-expressed for a cluster job.

    spark-submit --py-files dedup_spark.zip jobs/dedup_job.py \
        --input /data/images_table --output /data/assignments \
        --min-size 1 --exclude '*.tmp' --action write --format json

Option surface mapped from the reference:
  path                  -> --input (parquet dir or Iceberg identifier)
  --format human|json|quiet          (src/main.rs:30-33)
  --min-size / --max-size            (src/main.rs:36-42)
  --action report|report-exit-code|write   ('write' = the hardlink
        analog: idempotent cluster-assignment MERGE, src/actions.rs)
  --dry-run                          (src/main.rs:48-50)
  --include/--exclude [+ @file]      (src/main.rs:52-68, S7 pattern files)
  --jobs                -> spark conf (local[N]); on a real cluster
        parallelism comes from spark-submit, not this flag
  --tiers exact,caption,phash        (which edge producers run)
  --checkpoint-dir      -> resumable CC state (north rule)

Packaging: `cd /root/repo && zip -r dedup_spark.zip dedup_spark` then
pass via --py-files; this file only imports from the package.
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_args(argv=None):
    p = argparse.ArgumentParser(description="near-duplicate detection over image+caption tables")
    p.add_argument("--input", required=True, help="parquet dir or Iceberg table id")
    p.add_argument("--output", default=None, help="assignment table target (required for --action write)")
    p.add_argument("--format", choices=["human", "json", "quiet"], default="human")
    p.add_argument("--action", choices=["report", "report-exit-code", "write"], default="report")
    p.add_argument("--dry-run", action="store_true")
    p.add_argument("--verbose", action="store_true")
    p.add_argument("--min-size", type=int, default=1)
    p.add_argument("--max-size", type=int, default=None)
    p.add_argument("--include", action="append", default=[])
    p.add_argument("--exclude", action="append", default=[])
    p.add_argument("--include-file", default=None)
    p.add_argument("--exclude-file", default=None)
    p.add_argument("--tiers", default="exact,caption,phash")
    p.add_argument("--id-col", default="image_id")
    p.add_argument("--payload-col", default="bytes")
    p.add_argument("--caption-col", default="caption")
    p.add_argument("--phash-col", default="phash")
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--jobs", type=int, default=None, help="local-mode cores (cluster: use spark-submit)")
    p.add_argument("--metrics-out", default=None)
    return p.parse_args(argv)


def _codegen_totals(spark) -> tuple[int, float]:
    """(classes compiled, compile seconds) so far in the driver JVM; in
    local mode the executors share that JVM and its codegen cache."""
    jvm = spark._jvm
    count = jvm.org.apache.spark.metrics.source.CodegenMetrics
    timer = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    return count.METRIC_COMPILATION_TIME().getCount(), timer.compileTime() / 1e9


def main(argv=None) -> int:
    args = parse_args(argv)

    from pyspark.sql import SparkSession

    from dedup_spark.config import DedupConfig
    from dedup_spark.operators.canonical import merge_assignments
    from dedup_spark.pipeline import dedup_pipeline
    from dedup_spark.plans.lineage import StageMetrics
    from dedup_spark.sources.catalog import load_table, write_table
    from dedup_spark.sources.filters import apply_scan_filters, parse_pattern_file

    if args.jobs:
        from dedup_spark.session import get_spark

        spark = get_spark("dedup_job", cores=args.jobs)
    else:
        spark = SparkSession.builder.appName("dedup_job").getOrCreate()
    compiles0, compile_s0 = _codegen_totals(spark)

    include = list(args.include)
    exclude = list(args.exclude)
    if args.include_file:
        include += parse_pattern_file(args.include_file)
    if args.exclude_file:
        exclude += parse_pattern_file(args.exclude_file)

    if args.input.startswith("iceberg:"):
        df = spark.read.format("iceberg").load(args.input[len("iceberg:"):])
    else:
        df = spark.read.parquet(args.input)

    df = apply_scan_filters(
        df,
        id_col=args.id_col,
        payload_col=args.payload_col,
        min_size=args.min_size,
        max_size=args.max_size,
        include=include,
        exclude=exclude,
    )

    tiers = set(args.tiers.split(","))
    cfg = DedupConfig(
        min_size=args.min_size,
        max_size=args.max_size,
        checkpoint_dir=args.checkpoint_dir,
    )
    metrics = StageMetrics("dedup_job")
    assigned = dedup_pipeline(
        df,
        id_col=args.id_col,
        payload_col=args.payload_col,
        caption_col=args.caption_col if "caption" in tiers else None,
        phash_col=args.phash_col if "phash" in tiers else None,
        cfg=cfg,
        metrics=metrics,
        include_singletons=False,
    )

    from pyspark.sql import functions as F

    stats = assigned.groupBy("cluster_id").count().agg(
        F.count(F.lit(1)).alias("groups"),
        F.coalesce(F.sum("count"), F.lit(0)).alias("rows_in_groups"),
    ).first()
    n_groups = stats["groups"]

    if args.action == "write":
        if not args.output:
            print("--output required for --action write", file=sys.stderr)
            return 2
        if args.dry_run:
            print(f"[dry-run] would write {assigned.count()} assignments to {args.output}")
        else:
            existing = None
            try:
                from dedup_spark.sources.catalog import read_table

                existing = read_table(spark, args.output)
            except Exception:
                existing = None
            merged = merge_assignments(assigned, existing, id_col=args.id_col)
            write_table(merged, args.output)

    if args.metrics_out:
        # the run's Janino compiles: a plan-reuse or codegen-cache
        # regression shows here as a jump in count and seconds
        compiles, compile_s = _codegen_totals(spark)
        metrics.record("codegen_compiles", compiles - compiles0)
        metrics.record("codegen_compile_s", round(compile_s - compile_s0, 4))
        metrics.write(args.metrics_out)

    if args.format == "json":
        print(json.dumps({
            "groups": int(n_groups),
            "rows_in_duplicate_groups": int(stats["rows_in_groups"]),
        }))
    elif args.format == "human":
        print(f"duplicate clusters: {n_groups}")
        print(f"rows in clusters:   {stats['rows_in_groups']}")
        if args.verbose:
            for r in assigned.limit(50).collect():
                print(f"  {r['image_id']} -> {r['cluster_id']}"
                      + (" [canonical]" if r["is_canonical"] else ""))

    if args.action == "report-exit-code":
        return 1 if n_groups > 0 else 0
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
