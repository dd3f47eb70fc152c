"""SparkSession factory with the engine's performance configuration.

Reference analogue: fluent-bit's engine/config bootstrap
(upstream:src/flb_engine.c, src/flb_config.c) — there the knobs are
chunk sizes and worker threads; here they are AQE, Arrow batching and
shuffle partitioning (SURVEY.md §4.2 physical knobs).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch sizing: token rows are ~4 KB (avg ~60 int32 tokens + text);
# 10k rows/batch ≈ 40 MB per Arrow batch through the pandas-UDF boundary.
ARROW_BATCH_ROWS = 10_000


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap default: half of the machine's RAM (``MemTotal``), at
    least 1 GB, leaving the rest to the Python workers and the OS. In
    local mode the driver JVM also runs every executor thread. Falls
    back to 4g where ``/proc/meminfo`` is unreadable."""
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_mb = int(line.split()[1]) // 1024
                    return f"{max(1024, total_mb // 2)}m"
    except (OSError, ValueError, IndexError):
        pass
    return "4g"


def get_spark(
    app_name: str = "fluent_bit_spark",
    master: str | None = None,
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS or *]``. On a real
    cluster pass ``master=None`` with spark-submit providing the master;
    these conf values are equally valid there (AQE handles the rest).
    """
    if master is None:
        n = cores or os.environ.get("SPARK_GRAFT_CPUS") or "*"
        master = f"local[{n}]"
    if shuffle_partitions is None:
        ncpu = os.cpu_count() or 8
        shuffle_partitions = max(8, ncpu)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # the staged sink write's REBALANCE hint: AQE splits a skewed
        # (sink, source) group over several tasks
        .config("spark.sql.adaptive.optimizeSkewsInRebalancePartitions"
                ".enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_BATCH_ROWS),
        )
        .config("spark.sql.files.maxPartitionBytes", "256m")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        # Local sandbox has no Iceberg runtime jar; in production add:
        #   spark.jars.packages=org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>
        #   spark.sql.catalog.logpipe=org.apache.iceberg.spark.SparkCatalog
        # io.py degrades to Parquet when the catalog is absent.
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
