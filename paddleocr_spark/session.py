"""SparkSession factory with the scale-oriented defaults used everywhere.

Tuned per SURVEY.md §4/§7: AQE on (runtime coalescing + skew split),
Arrow-batched pandas UDFs, explicit shuffle partitioning (north rule), and a
bounded Arrow batch size so grouped-map kernels never materialize oversized
batches.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cores() -> int:
    """``$SPARK_GRAFT_CPUS`` if set, else the host's core count."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def get_spark(app: str = "paddleocr-spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cores is None:
        cores = default_cores()
    if shuffle_partitions is None:
        # 2× cores: enough slots for AQE to coalesce down, few enough that
        # sf-scale partitions stay >memory-trivial. At cluster scale this is
        # sized to data volume instead (see README scale notes).
        shuffle_partitions = 2 * cores
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
