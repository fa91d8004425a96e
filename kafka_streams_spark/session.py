"""SparkSession factory with scale-appropriate defaults.

Local test mode runs `local[N]` in one JVM; the same settings carry to a
real cluster where `spark.sql.shuffle.partitions` should track total cores
(AQE coalesces down at runtime, so over-provisioning is safe at 100 TB).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from kafka_streams_spark.sources import MAX_FILES_PER_TRIGGER


def get_spark(
    app_name: str = "kafka_streams_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults are tuned for the driver's local[32] harness but are the same
    knobs one would set on a 1000-executor cluster: AQE on (runtime
    coalescing + skew-join splitting), UTC session timezone (required for
    DuckDB-oracle comparison — Spark timestamps are session-TZ, DuckDB's are
    UTC-naive), Arrow transfer for the few Pandas-UDF operators.
    The parallel-listing threshold is the file streams' per-trigger cap,
    so a file-source trigger stats its files on the driver (~40 ms)
    instead of launching a one-task-per-file listing job.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(MAX_FILES_PER_TRIGGER),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
