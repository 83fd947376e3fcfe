"""SparkSession factory tuned for this engine.

Local mode mirrors the driver harness (local[$SPARK_GRAFT_CPUS]); on a real
cluster the same builder applies minus master/driver-memory overrides.
AQE is always on: it replaces the reference's hand-tuned split sizing
(DiffJob.java:147-152) and split shuffling (DiffJob.java:239-242) with
runtime coalescing and skew-join handling.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def local_cpus() -> int:
    """Worker threads of the local master: ``$SPARK_GRAFT_CPUS``, else 32."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "cassandra_diff_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = local_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # session-wide by design (see gate._ensure_session_confs):
        # TIMESTAMP(NANOS) parquet surfaces as bigint nanos everywhere
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _default_driver_memory() -> str:
    """Half the host's physical memory, at most 48g. A heap larger than
    the host lets a long-lived local driver JVM grow until the kernel
    kills it instead of collecting garbage."""
    try:
        total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    except (ValueError, OSError, AttributeError):  # no sysconf names here
        return "48g"
    return f"{max(1024, min(48 * 1024, total_mb // 2))}m"
