"""SparkSession builder with the configs this engine relies on.

These settings are the local-mode stand-ins for the cluster posture the
pipeline is designed for (SURVEY.md §4): AQE for runtime re-planning and
skew-join splitting, Arrow for vectorized pandas-UDF transfer, explicit
shuffle partitioning.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "rkmh_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_size: int = 2048,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cores == "*" else max(int(cores), 4)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # runtime re-planning: coalesce tiny shuffle partitions, split skewed ones
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow batches feed the vectorized shingle/sketch kernels
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_size))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # Spark 4 default, pinned explicitly: operators rely on ANSI's
        # loud INVALID_ARRAY_INDEX for over-declared vector widths
        # (similarity.hyperplane_buckets) rather than silent null collapse
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
