"""SparkSession factory with scale-appropriate defaults.

Tests/bench use local[N]; the same config block is what we'd ship in
spark-defaults for a 1000-executor cluster (AQE on, Arrow on, shuffle
partitions sized to cores; on a real cluster shuffle partitions scale
with total cores and input volume instead).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "webextract", cpus: int | None = None,
              shuffle_partitions: int | None = None,
              profile: str = "kernel") -> SparkSession:
    """profile="kernel" (default): scan-split sizing tuned for the
    CPU-bound extraction kernel — the per-byte cost of extraction is
    ~10^3× a columnar scan's, so splits must be much finer than the
    128 MB I/O default or small corpora collapse to 1-2 tasks
    (openCostInBytes=4 MB folds 64 small files into ~3 splits —
    measured 1.85× speedup on 32 cores with the fine settings).  The
    same knob bounds straggler size at 100 TB.

    profile="analytics": stock Spark split sizing, for pure-columnar
    SQL sessions over corpus tables — at 100 TB the kernel profile
    would mean ~13M scan splits of pure scheduler overhead for queries
    that never touch the kernel.  The two profiles are the deployment
    story (spark-defaults per job class); a session is one or the
    other.  Corpus operators are robust to either: their CPU-heavy
    stages self-spread via corpus._spread when the scan layout
    under-parallelizes."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = f"local[{cpus}]"
    sp = shuffle_partitions or max(cpus, 8)
    b = (
        SparkSession.builder
        .master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size ≡ the reference's pipeline stage batching knob
        # (DOCLING_PERF_PAGE_BATCH_SIZE etc., settings.py:77-82) — but
        # sized for throughput.  A kernel holds a whole input batch in
        # memory: its byte budget (udfs.row_kernel) only caps the size
        # of its output batches
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("WEBEXTRACT_DRIVER_MEM", "48g"))
        # Broadcast/shuffle blocks are only reclaimed when the JVM GCs,
        # and a 48g heap can go minutes without one — long sessions
        # (bench, notebooks) accumulate block-manager debt that shows up
        # as a multi-query slow window (measured: a contiguous ~4-query
        # stretch inflated 5-10×, moving run to run).  Trigger the
        # ContextCleaner's periodic GC every minute (default 30min), and
        # make System.gc() a CONCURRENT G1 cycle — the default full STW
        # compaction of a 48g heap full of humongous Arrow/broadcast
        # allocations pauses for seconds.
        .config("spark.cleaner.periodicGC.interval", "1min")
        .config("spark.driver.extraJavaOptions",
                "-XX:+ExplicitGCInvokesConcurrent")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    if profile == "kernel":
        b = (b.config("spark.sql.files.maxPartitionBytes",
                      str(8 * 1024 * 1024))
             .config("spark.sql.files.openCostInBytes", str(128 * 1024)))
    return b.getOrCreate()


def cores(spark: SparkSession) -> int:
    """The job path's task fan-out, one task per core
    (``defaultParallelism``, ``cpus`` under get_spark): the wave write
    runs ``min(parts, cores)`` tasks and the split tier repartitions
    its segments into ``cores`` partitions."""
    return spark.sparkContext.defaultParallelism


def est_plan_bytes(df) -> int:
    """Catalyst plan-stats sizeInBytes for a frame (r6) — the byte
    side of the est_scan_partitions probe, used by conditional spread
    barriers to skip the exchange when the serial scan is cheap
    anyway.  Unknown stats return 0 (skip-spread direction: an
    unknown layout is treated as not worth a shuffle when a caller
    sets a work floor)."""
    try:
        return int(str(df._jdf.queryExecution().optimizedPlan().stats()
                       .sizeInBytes()))
    except Exception:
        return 0


def est_scan_partitions(df) -> int:
    """Estimated scan-task count for a frame WITHOUT forcing an RDD
    conversion of the analyzed plan (round-2 review item 10): Catalyst
    plan-stats sizeInBytes over spark.sql.files.maxPartitionBytes.

    Used only by the conditional spread barriers to decide if a narrow
    input would under-parallelize the CPU-heavy kernels.  The estimate
    errs small for tiny single-file test tables (barrier fires — the
    intended case) and large for production multi-file/Iceberg layouts
    (barrier skipped — no payload shuffle at scale), which are the safe
    directions on both sides."""
    spark = df.sparkSession
    try:
        size = int(str(df._jdf.queryExecution().optimizedPlan().stats()
                       .sizeInBytes()))
        mpb = int(spark._jvm.org.apache.spark.network.util.JavaUtils
                  .byteStringAsBytes(
                      spark.conf.get("spark.sql.files.maxPartitionBytes",
                                     "128m")))
        return max(1, -(-size // max(1, mpb)))
    except Exception:
        return 1   # unknown layout → spread (the tiny-input default)
