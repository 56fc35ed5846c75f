"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; on a real cluster the master comes from
spark-submit and is NOT overridden here (we only set ``.master`` when no
master is already configured).  The settings below are the ones that matter at
100 TB scale: AQE for runtime re-planning and skew-join splitting,
partition-size-driven scan splits, UTC session time, and Arrow for the few
Pandas-UDF code paths (greedy batch packing, lake writes).
"""

from __future__ import annotations

import os

from pyspark import SparkConf
from pyspark.sql import SparkSession


def get_spark(app_name: str = "adls-indexer", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = SparkSession.builder.appName(app_name)
    # Respect an externally-configured master (spark-submit --master, an
    # active session, or MASTER env); only default to local[N] when absent.
    if not SparkConf().contains("spark.master") and not os.environ.get("MASTER"):
        builder = builder.master(f"local[{cpus}]")
        # One shuffle partition per core locally; a cluster keeps its own
        # setting (2-3x total cores) or lets AQE coalesce.
        builder = builder.config("spark.sql.shuffle.partitions", str(cpus))
        # Same reasoning for listing: above the discovery threshold (512,
        # below) Spark lists the indexer's explicit file list with a
        # distributed job of one task per file (up to 10000 by default).
        # Measured on a 4-core host: 1000 listed files cost 21.5 driver CPU
        # s uncapped against 4.3 for a recursive scan of the lake; capped at
        # one task per core, 2.2-3.9 s, and a 10-file tick 0.3-0.8 s.
        builder = builder.config(
            "spark.sql.sources.parallelPartitionDiscovery.parallelism", str(cpus)
        )
        # Local mode defaults to a 1g driver heap regardless of machine
        # size — with N executor threads sharing it, scan/aggregate buffers
        # OOM long before the hardware does (observed at the 5x-replicated
        # bench SF).  Size the single local JVM like the executor it stands
        # in for; a real cluster sets its own executor/driver memory and is
        # untouched by this branch.
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
        )
    spark = (
        builder
        # AQE: coalesce tiny shuffle partitions, split skewed ones at runtime.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # RFC-4648 base64 (no MIME \r\n chunking) so surrogate keys match C#
        # Convert.ToBase64String (reference PathIndexModel.cs:13).  The
        # functions in functions/keys.py also strip CRLF defensively in case
        # this session was built elsewhere.
        .config("spark.sql.legacy.chunkBase64String.enabled", "false")
        # Parquet scan pushdown is on by default; pin it explicitly since the
        # engine's incremental-watermark semantics rely on it (SURVEY §4).
        .config("spark.sql.parquet.filterPushdown", "true")
        # Partition discovery: the persisted index layouts (postings/doclens/
        # docvals/segments) are bucket-partitioned at n_buckets = 64-256
        # top-level directories, and every maintenance op re-opens them
        # several times.  The default threshold (32 paths) pushes each of
        # those listings into a DISTRIBUTED job — one 64-task job per
        # read-back, pure scheduling latency at this directory count.  512
        # keeps driver-side listing for bucket-sized layouts (a driver lists
        # hundreds of dirs in ms) while genuinely wide layouts (date-
        # partitioned lakes with thousands of partitions) still distribute.
        # Measured: warm profile-index build 4.9 -> 3.8 s at sf0.1.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "512")
        # FileOutputCommitter v2: tasks move their output to the destination
        # at task commit instead of queueing a SERIAL driver-side mergePaths
        # at job commit.  The index layouts write 64-256 bucket directories
        # per relation, and v1's sequential rename chain multiplies any FS
        # latency spike by the file count — measured on the heavy lifecycle
        # entries as 2-8x pathological reps (profile phrase 123.8 s worst
        # vs a 14 s floor) that vanish under v2 (24 interleaved reps, worst
        # 25.7 s, floors equal or better).  v2's weaker failure semantics
        # (partial output visible if a job dies mid-commit) are safe here:
        # every persisted-index write (text and profile indexes, path and
        # deleted-path indexes) lands in a staged directory and only
        # becomes live via the atomic journal promote (sources/staging.py),
        # and on a real cluster object-store committers override this
        # anyway.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # The driver's events.parquet stores TIMESTAMP(NANOS), which Spark's
        # reader rejects by default; read as int64 nanos and convert in
        # sources.fixtures.load_table (values are µs-aligned — verified).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    # Reading one glob path makes Spark probe it for a streaming-sink
    # log; the indexer's brace glob has none, and each probe logs a WARN
    # with a full FileNotFoundException stack trace.  Silence only that
    # logger (its name moved in Spark 4.1).
    log4j = spark._jvm.org.apache.logging.log4j
    for name in (
        "org.apache.spark.sql.execution.streaming.FileStreamSink",
        "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink",
    ):
        log4j.core.config.Configurator.setLevel(name, log4j.Level.ERROR)
    return spark
