"""SparkSession factory with scale-oriented defaults.

The settings below are the ones that matter at 100 TB and cost nothing at
test scale:

* AQE on (runtime coalescing + skew-join splitting for hot crawl domains),
* Arrow on (every Python kernel in this engine is a pandas UDF),
* a bounded Arrow batch size so a batch of large ``html`` blobs cannot blow
  up executor memory during the parse UDF,
* shuffle partitions sized from the env (the real cluster overrides this
  with ``spark.sql.shuffle.partitions`` ~= 2-3x total cores),
* local cores and driver heap derived from the host (``os.cpu_count()``
  and ``HEAP_SHARE`` of physical RAM), overridable with
  ``SPARK_GRAFT_CPUS`` and ``SPARK_DRIVER_MEM``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# share of physical RAM the driver heap takes by default: local mode runs
# every executor in this one JVM, and the rest is left to the Python
# workers and the OS page cache
HEAP_SHARE = 0.6


def _default_heap() -> str:
    """``HEAP_SHARE`` of this host's physical RAM, as a ``<MiB>m`` size."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{int(ram * HEAP_SHARE) >> 20}m"


def get_spark(
    master: str | None = None,
    app_name: str = "tecs-hardware-kbc-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the KBC pipeline."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except ValueError:
            shuffle_partitions = 8

    driver_mem = os.environ.get("SPARK_DRIVER_MEM") or _default_heap()
    # Young-gen sized to half the heap: the pipeline churns short-lived
    # allocation (gram arrays, codegen rows), and with the default
    # NewRatio the young gen is small enough that minor GCs were measured
    # at 40% of wall clock on a 32-core 64k-page run with a 48g heap;
    # -Xmn at heap/2 cut the fused datapath 28s -> 21s (A/B'd vs G1 —
    # faster once but 2x variance — and ZGC — consistent but 24% slower).
    try:
        unit = driver_mem[-1].lower()
        half = max(int(driver_mem[:-1]) // 2, 1)
        young = f"-Xmn{half}{unit}" if unit in ("g", "m") else ""
    except (ValueError, IndexError):
        young = ""

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # COMPRESSED shuffle bytes drive AQE coalescing; html compresses
        # ~10x, so the default 1MB floor would coalesce the ingest exchange
        # to a handful of partitions and starve the parse UDF. 64k keeps
        # blob-heavy exchanges at full parallelism (parallelismFirst still
        # caps the count at defaultParallelism).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # html blobs are KBs-to-MBs each; cap Arrow batches so the parse UDF
        # stays memory-bounded regardless of row width.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.sql.session.timeZone", "UTC")
        # local[*] runs everything in ONE JVM: size the heap for the
        # checkpointed stage tables or GC dominates and scaling inverts
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # throughput GC: the pipeline is allocation-heavy (gram explode,
        # array columns); ParallelGC beats G1 by ~1.4x at high core counts,
        # and the explicit young gen (above) keeps minor-GC time ~flat as
        # cores grow — without it GC was 40% of wall at 32 cores
        .config("spark.driver.extraJavaOptions",
                f"-XX:+UseParallelGC {young}".strip())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
