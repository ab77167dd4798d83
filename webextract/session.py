"""The job's Spark settings, defined once.

``JOB_CONF`` is what we'd ship in spark-defaults for a 1000-executor
cluster (AQE on, Arrow on with 2048-row batches, scan splits sized for
the kernel).  ``get_spark`` builds a local[N] session with them for
tests and benchmarks; ``job_session`` gives them to the session
spark-submit built for the CLI, under whatever it was launched with.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# The job's settings: runtime SQL confs, so a session that is already
# running (the spark-submit CLI's) can take them (job_session).
JOB_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow batch size ≡ the reference's pipeline stage batching knob
    # (DOCLING_PERF_PAGE_BATCH_SIZE etc., settings.py:77-82) — but
    # sized for throughput.  A kernel holds a whole input batch in
    # memory: its byte budget (udfs.row_kernel) only caps the size of
    # its output batches
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    # scan splits sized for the CPU-bound extraction kernel: its
    # per-byte cost is ~10^3× a columnar scan's, so splits must be much
    # finer than the 128 MB I/O default or small corpora collapse to 1-2
    # tasks (openCostInBytes=4 MB folds 64 small files into ~3 splits —
    # measured 1.85× speedup on 32 cores with the fine settings).  The
    # same knob bounds straggler size at 100 TB.  A pure-columnar SQL
    # session over corpus tables wants the stock sizes instead
    # (``--maintenance compact`` keeps them).
    "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
    "spark.sql.files.openCostInBytes": str(128 * 1024),
}


def get_spark(app: str = "webextract", cpus: int | None = None) -> SparkSession:
    """A local[cpus] session with the job settings (JOB_CONF) and the
    local-mode ones: shuffle partitions and default parallelism sized
    to the cores, driver memory, no UI, and the cleaner's periodic
    concurrent GC."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app)
        .config(map=JOB_CONF)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.driver.memory", os.environ.get("WEBEXTRACT_DRIVER_MEM", "48g"))
        # Broadcast/shuffle blocks are only reclaimed when the JVM GCs,
        # and a 48g heap can go minutes without one — long sessions
        # (bench, notebooks) accumulate block-manager debt that shows up
        # as a multi-query slow window (measured: a contiguous ~4-query
        # stretch inflated 5-10×, moving run to run).  Trigger the
        # ContextCleaner's periodic GC every minute (default 30min), and
        # make System.gc() a CONCURRENT G1 cycle — the default full STW
        # compaction of a 48g heap full of humongous Arrow/broadcast
        # allocations pauses for seconds.  Both stay here: a driver
        # spark-submit already started cannot take the JVM flag.
        .config("spark.cleaner.periodicGC.interval", "1min")
        .config("spark.driver.extraJavaOptions",
                "-XX:+ExplicitGCInvokesConcurrent")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def job_session(spark: SparkSession) -> SparkSession:
    """``spark`` with each job setting (JOB_CONF) its driver was not
    launched with: a value given to spark-submit (``--conf``,
    spark-defaults.conf) wins over the job's."""
    launched = spark.sparkContext.getConf()
    for k, v in JOB_CONF.items():
        if not launched.contains(k):
            spark.conf.set(k, v)
    return spark


def cores(spark: SparkSession) -> int:
    """The job path's task fan-out, one task per core
    (``defaultParallelism``, ``cpus`` under get_spark): the wave write
    runs ``min(parts, cores)`` tasks, the oversized-document spread
    repartitions its payloads into ``cores`` partitions, and the cut
    chain (split.tier_df) its segments."""
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
