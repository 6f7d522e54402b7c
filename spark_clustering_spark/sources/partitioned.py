"""Date-partitioned layout — partition pruning for time-series scans.

At 100 TB the events table is written partitioned by event date so a
date-bounded query touches only the matching directories: Catalyst
turns the filter into PartitionFilters and the scan never lists, opens,
or reads the other partitions. tests/test_scale.py asserts the pruning
shows up in the plan and that pruned results match the unpartitioned
scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_clustering_spark.io import scratch, table


def write_events_partitioned(spark: SparkSession, sf_dir: str) -> str:
    """Materialize events partitioned by event_date (one directory per
    day). Returns the output path."""
    out = scratch("events_partitioned")
    ev = table(spark, sf_dir, "events").withColumn(
        "event_date", F.col("ts").cast("date")
    )
    ev.write.mode("overwrite").partitionBy("event_date").parquet(out)
    return out


def day_slice(spark: SparkSession, path: str, day: str) -> DataFrame:
    """Single-day scan — the event_date predicate prunes partitions."""
    return (
        spark.read.parquet(path)
        .filter(F.col("event_date") == F.lit(day).cast("date"))
        .select("event_id", "user_id", "event_type", "value")
    )
