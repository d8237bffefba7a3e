"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[N]; the same configuration keys are what a
1000-executor cluster deployment would tune (AQE on, Arrow on, sane
shuffle partitioning).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


_MAX_DRIVER_MEMORY_MB = 48 * 1024


def default_driver_memory() -> str:
    """Half of this machine's physical memory, at most 48g, as a Spark
    size string.  In local mode the driver JVM also runs the executors;
    the other half is left to the Python workers (pandas UDFs, codecs)
    and the OS, so the heap never outgrows the machine.
    ``SPARK_DRIVER_MEMORY`` overrides it in :func:`get_spark`."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(phys // 2 // 2**20, _MAX_DRIVER_MEMORY_MB)}m"


def get_spark(
    app_name: str = "img2dataset_spark",
    shuffle_partitions: int | None = None,
    master: str | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", default_driver_memory()),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
