"""SparkSession construction with scale-appropriate defaults.

All timestamps in the domain are naive UTC (reference coerces every input via
``_to_naive_utc``, ``app/services/get_timeseries.py:30-33``), so the session
timezone is pinned to UTC; AQE is enabled so runtime statistics can re-plan
shuffles/skew on a real cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "ambient-sound-analysis-spark") -> SparkSession:
    """Build (or fetch) the session used by tests and bench.

    The correctness driver passes its own session into ``__spark_entry__``;
    every operator in this package therefore takes the session or a DataFrame
    as input and never calls ``getOrCreate`` itself.
    """
    master = os.environ.get("SPARK_MASTER", f"local[{DEFAULT_SHUFFLE_PARTITIONS}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
