"""SparkSession factory tuned for the engine.

The reference (ddf-flink) builds a Flink ``ExecutionEnvironment`` at manager
construction (``flink/src/main/scala/io/ddf/flink/FlinkDDFManager.scala:94-109``,
local vs remote chosen from config). Here the equivalent is a ``SparkSession``
with scale-conscious defaults: AQE on (runtime re-plan, skew-join splitting,
partition coalescing), Arrow on (fast pandas-UDF / toPandas boundary), and a
shuffle-partition count sized from the environment rather than Spark's
historical default of 200.

On a real cluster these settings hold: AQE re-sizes shuffle partitions from
actual map-output statistics, so a single config works from sf0.001 local
tests up to a 1000-executor 100 TB run.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "DEFAULT_SHUFFLE_PARTITIONS"]

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _default_driver_mem() -> str:
    """48g, capped at half of physical RAM: the local-mode driver JVM
    also runs every executor task, and a heap sized past the host lets
    it grow until the OS kills it. ``SPARK_GRAFT_DRIVER_MEM`` overrides."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(48 * 1024, ram_mb // 2)}m"


def get_spark(app_name: str = "ddf_flink_spark", **extra_conf: str) -> SparkSession:
    """Create (or reuse) a SparkSession with the engine's defaults.

    ``extra_conf`` entries override defaults; an already-running session is
    reused (Spark semantics of ``getOrCreate``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    master = f"local[{cpus}]" if cpus else "local[*]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Periodic driver System.gc(): on a large-heap long-lived session
        # the driver may not GC for hours, so ContextCleaner never learns
        # that shuffle files / broadcast blocks / checkpoint RDD wrappers
        # died — executor disk and storage accumulate until a measured
        # GC/spill storm (PERF.md, q205@sf1: 16× CPU outlier). 15 min is
        # cheap insurance: a driver full GC costs ~100 ms and fires only
        # when the interval elapses. On a many-executor deployment the
        # same knob bounds per-executor shuffle-file retention. Override
        # via extra_conf for latency-critical drivers.
        .config("spark.cleaner.periodicGC.interval", "15min")
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
