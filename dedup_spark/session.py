"""SparkSession factory tuned for the dedup engine.

Local mode is a stand-in for a multi-executor cluster: every config here
is chosen to also be the right default at 1000 executors (AQE for runtime
re-planning / skew splitting, Arrow for vectorized Python, shuffle
partitions sized to parallelism).
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession


def _skip_unchanged_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive file changed.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task. Before CPython 3.13 each zipimporter then re-parses
    its archive's whole central directory, and a reused worker holds one
    importer per package directory of ``pyspark.zip`` (16 with py4j), so
    every task re-read the 1,328-entry archive 16 times: about 0.12 CPU-s
    per task on a 4-CPU Xeon, against about 0.001 s for a trivial
    ``mapInPandas`` body.

    The wrapper compares ``os.stat`` (mtime, size, inode) with the one
    taken at the last read; a rewritten or replaced zip (``--py-files``,
    ``addPyFile``) differs and is re-read, and an importer's first call
    and any ``OSError`` fall through to the original. CPython 3.13
    already invalidates lazily, so nothing is installed there. Runs on
    import of this module, which ``dedup_spark/__init__.py`` imports, so
    every Python worker that unpickles an engine function installs it.
    """
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or cls.invalidate_caches.__module__ == __name__:
        return
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        # stat before the read: a write racing the read then leaves an
        # older key, so the next call re-reads instead of missing it
        if key is None or key != getattr(self, "_read_at_stat", None):
            reread(self)
            self._read_at_stat = key

    cls.invalidate_caches = invalidate_caches


_skip_unchanged_zip_rereads()


# Entries in the JVM's generated-class cache (Spark's default: 100). One
# fused ``dedup_pipeline`` pass needs 161-165 distinct generated classes
# (perfbench seeds 1 and 3) and the 60-image test corpus 182; it reuses
# them in a cycle, so a 100-entry LRU evicted every class before its next
# use and each warm pass recompiled ~150 of them (1.3-1.8 s of Janino
# compile time in a ~5 s pass). ``image_signatures`` needs 22 and the
# micro-batch ingest 38. 1,000 is about 6x the largest working set
# measured. A static conf: only a session built here picks it up, not
# one that already runs in the JVM or a vanilla driver session.
CODEGEN_CACHE_ENTRIES = 1_000


def get_spark(
    app_name: str = "dedup_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS (driver contract) or 32.
    On a real cluster the master/executor topology comes from
    spark-submit; everything below is topology-independent tuning.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # partitions == cores, not 2x: measured 30% faster on shuffle-heavy
    # pipelines here (fewer task launches; AQE splits skewed partitions
    # at runtime anyway, which covers the case 2x was insurance for)
    shuffle_partitions = shuffle_partitions or cores

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        # Shuffle parallelism ~ total cores; AQE coalesces down at runtime.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime partition coalescing, skew-join splitting, plan re-opt.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow transfer for every pandas UDF / mapInPandas stage.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Keep the pipeline's generated classes compiled across runs
        # (see CODEGEN_CACHE_ENTRIES).
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # Deterministic timestamps vs the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # Big binary payloads: keep scan partitions bounded so a partition
        # of image bytes fits executor memory at 100 TB scale.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # Auto-broadcast small dims (candidate-key sets, configs).
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # With a large heap the derived Tungsten page size hits its 64 MB
        # cap; every hash-aggregate task then allocates+zeroes a 64 MB
        # long[] for its fast map — measured 10-40x slowdown on small
        # stages. 4 MB pages keep allocation proportional to data and
        # cost nothing at scale (maps grow by adding pages).
        .config("spark.buffer.pageSize", "4m")
        # Checkpointed/cached RDD partitions carry locality preferences;
        # waiting 3s (default) per wave for NODE_LOCAL slots stalls tiny
        # stages. Schedule immediately — at our task sizes a remote fetch
        # is cheaper than any wait.
        .config("spark.locality.wait", "0s")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # Driver JVM flags from the caller's environment: perfbench/run.py
        # sets them (heap pre-touch, C1-only JIT, a private tmpdir). Under
        # a CFS cpu quota the same hook passes
        # -XX:ActiveProcessorCount=<quota cores>, since the JVM otherwise
        # sizes its GC/JIT thread pools to the HOST's cpu count.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_DRIVER_JAVA_OPTS", ""),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
