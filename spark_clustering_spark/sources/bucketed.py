"""Bucketed tables — shuffle-free co-located joins.

At 100 TB the orders⋈lineitem join dominates unless both sides are
bucketed on the join key at write time: each bucket pair joins locally
with NO exchange. This module materializes bucketed copies of the
driver tables into a managed warehouse and exposes the co-located join;
tests/test_scale.py asserts the plan contains zero Exchange nodes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from spark_clustering_spark.io import scratch, table
from spark_clustering_spark.registry import query

N_BUCKETS = 8


def create_bucketed_tables(
    spark: SparkSession, sf_dir: str, n_buckets: int = N_BUCKETS
) -> None:
    """Write orders + lineitem bucketed (and sorted) by the order key.
    Idempotent PER SOURCE DIR: the table names carry an sf_dir
    fingerprint, so two sf_dirs in one session never alias each other's
    buckets (they'd silently serve stale data otherwise), while a rerun
    on the same sf_dir reuses the existing tables. Each table is
    EXTERNAL, in the scratch dir of its own name, so the write never
    depends on the session's warehouse directory (vanilla driver
    sessions point it at their own cwd) and a table's files live as
    long as the application that catalogs it."""
    names = bucketed_table_names(sf_dir)
    existing = {t.name for t in spark.catalog.listTables()}
    for src, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        name = names[src]
        if name in existing:
            continue
        (
            table(spark, sf_dir, src)
            .write.bucketBy(n_buckets, key)
            .sortBy(key)
            .mode("overwrite")
            .option("path", scratch(name))
            .saveAsTable(name)
        )


def bucketed_table_names(sf_dir: str) -> dict:
    """Catalog names for the bucketed twins of a given source dir."""
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return {"orders": f"orders_b_{tag}", "lineitem": f"lineitem_b_{tag}"}


def colocated_order_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders_b ⋈ lineitem_b on the bucket key: bucket-to-bucket local
    sort-merge join — zero shuffle exchanges on either side (both are
    pre-partitioned and pre-sorted by the key at write time)."""
    from pyspark.sql import functions as F

    names = bucketed_table_names(sf_dir)
    o = spark.table(names["orders"])
    li = spark.table(names["lineitem"])
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(38,8)")), 4)
            .cast("double")
            .alias("order_total"),
        )
    )


@query(
    "q_sink_bucketed_join",
    # the layout changes the PLAN (zero exchanges), never the answer:
    # the oracle is the plain join aggregate over the source tables
    oracle="""
    SELECT o.o_orderkey, count(*) AS n_lines,
           cast(cast(round(sum(cast(l.l_extendedprice AS DECIMAL(38,8))), 4) AS VARCHAR) AS DOUBLE) AS order_total
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderkey
    """,
)
def q_sink_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-layout sink + shuffle-free join read-back: both fact
    tables are written bucketBy(8) + sortBy on the order key (external
    tables in scratch dirs), then joined bucket-to-bucket — a local
    sort-merge with ZERO Exchange nodes on either side (asserted in
    tests/test_scale.py under a sort-merge join hint). This is THE layout
    decision for the dominant 100 TB join: the shuffle is paid once at
    write time and amortized over every subsequent join; the answer is
    bit-identical to the unbucketed plan (this oracle).

    Completes the physical-layout family: partitioned sink (partition
    pruning), Z-order (2-D box pruning), compaction, and now bucketing
    (co-located joins)."""
    create_bucketed_tables(spark, sf_dir)
    return colocated_order_join(spark, sf_dir)
