"""Table loading for the driver-generated TPC-H-ish parquet tables.

At 100 TB these reads are partitioned parquet scans; everything here is
a thin, lazily-planned ``spark.read.parquet`` so Catalyst keeps column
pruning and predicate pushdown (``.explain`` shows ``PushedFilters`` /
``ReadSchema`` reaching the scan).
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager

from pyspark import SparkFiles
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one table.

    ``events.ts`` is stored as TIMESTAMP(NANOS), which Spark's parquet
    reader rejects; with ``spark.sql.legacy.parquet.nanosAsLong`` it
    arrives as a nanos bigint and is converted here to a microsecond
    timestamp (truncation — matching DuckDB's ns→us read behavior).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # deterministic timestamp rendering even on a caller-provided session
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # TIMESTAMP(NANOS) parquet read via nanosAsLong
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # plain timestamp[us] (no tz) parquet arrives as TIMESTAMP_NTZ;
            # session tz is pinned UTC above, so this cast is value-preserving
            # and restores unix_micros()/window() compatibility.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# The session-artifact store: work many declared keys share (edge builds
# and their stats, trained quantizers), keyed by (applicationId, sf_dir,
# kind) so two scales never alias and a restarted session never reads a
# dead context's entries. Each entry is (value, the pins its build made).
_ARTIFACTS: dict = {}
# Pin lists: one per store entry under construction (innermost last),
# and the current query's; _QUERY_DEPTH counts nested query calls.
_BUILDING: list = []
_QUERY_PINS: list = []
_QUERY_DEPTH = 0


def artifact(spark: SparkSession, sf_dir: str, kind, build):
    """The ``kind`` artifact of this (application, sf_dir) scope, built
    by the zero-argument ``build()`` on first use and served from the
    store after that.

    One eviction rule: inserting for a new scope drops every entry of
    every other scope, so within a scope the store holds at most one
    entry per kind. Frames ``build()`` pins belong to its entry and are
    unpersisted when the entry is dropped (or by ``release()``); a
    failed build unpersists its pins at once."""
    scope = (spark.sparkContext.applicationId, sf_dir)
    key = (*scope, kind)
    if key in _ARTIFACTS:
        return _ARTIFACTS[key][0]
    pins: list = []
    _BUILDING.append(pins)
    try:
        value = build()
    except BaseException:
        _unpin(pins)
        raise
    finally:
        _BUILDING.pop()
    for k in [k for k in _ARTIFACTS if k[:2] != scope]:
        _unpin(_ARTIFACTS.pop(k)[1])
    _ARTIFACTS[key] = (value, pins)
    return value


def release() -> None:
    """Drop every stored artifact of every scope and unpersist their pins."""
    for _, pins in _ARTIFACTS.values():
        _unpin(pins)
    _ARTIFACTS.clear()


def pin(df: DataFrame) -> DataFrame:
    """``df`` computed now and held for a caller that reads it more than
    once, until its owner ends: the store entry being built, else the
    current query (see ``query_scope``).

    The rows are cached column-wise from ``df``'s own executed plan, so
    adaptive execution coalesces its last shuffle as it would for any
    query. ``df.persist()`` would plan it through the CacheManager
    instead, which on Spark 4.1 turns the final-stage shuffle
    optimizations off for cached plans: the last shuffle inside a pin,
    and every later read of the pin, then ran one task per
    ``spark.sql.shuffle.partitions`` (200 on a default session)
    whatever the data size. The cache keeps lineage: a frame read after
    its pin was released recomputes the same rows instead of losing
    blocks. The returned frame reads the cache through a plain RDD
    leaf, as a checkpoint would: AQE reuses no exchange above a
    cached-plan scan, and every plan update carries each nested cached
    plan along, which made the iterative keys several times slower
    (k-core 1.9 s to 16 s at sf0.1 on 4 cores). The leaf keeps the
    cache's statistics and output partitioning."""
    jdf, jvm = df._jdf, df.sparkSession._jvm
    sql = jvm.org.apache.spark.sql
    relation = getattr(getattr(sql.execution.columnar, "InMemoryRelation$"), "MODULE$").apply(
        jvm.org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK(),
        jdf.queryExecution(),
        jvm.scala.Option.empty(),
    )
    (_BUILDING[-1] if _BUILDING else _QUERY_PINS).append(relation.cacheBuilder())
    cached = sql.classic.Dataset.ofRows(jdf.sparkSession(), relation)
    logical_rdd = getattr(getattr(sql.execution, "LogicalRDD$"), "MODULE$")
    leaf = logical_rdd.fromDataset(cached.queryExecution().toRdd(), cached, jdf.isStreaming())
    return DataFrame(sql.classic.Dataset.ofRows(jdf.sparkSession(), leaf), df.sparkSession)


def _unpin(pins: list) -> None:
    for cache in pins:
        cache.clearCache(False)
    pins.clear()


@contextmanager
def query_scope():
    """The lifetime of one declared query's pins: entering the outermost
    call unpersists the pins of the previous one (and any pinned outside
    a query), so a key that calls another key keeps its own pins."""
    global _QUERY_DEPTH
    if _QUERY_DEPTH == 0:
        _unpin(_QUERY_PINS)
    _QUERY_DEPTH += 1
    try:
        yield
    finally:
        _QUERY_DEPTH -= 1


def scratch(name: str) -> str:
    """An empty directory for the files a query writes and reads back,
    at ``<SparkFiles root>/engine-scratch/<name>``; whatever an earlier
    call left under ``name`` is deleted first.

    One lifetime rule: a name's directory lives until the same name is
    asked for again or until the application stops. The SparkFiles root
    sits under ``spark.local.dir`` and Spark deletes it on
    ``spark.stop()``. PySpark also puts that root on the driver's
    ``sys.path``, hence the hyphenated subdirectory: no name under it
    can ever be imported as a module. A directory that a returned frame
    reads lazily is named by its query key (a catalog table's by the
    table name), so no two keys share one."""
    path = os.path.join(SparkFiles.getRootDirectory(), "engine-scratch", name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql access."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def spread(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition a WORK-AMPLIFYING input up to cluster parallelism —
    only when the scan under-parallelizes it.

    Operators like shingling explode each row into ~10-100x its bytes
    before the first shuffle, so their map stage's parallelism is fixed
    by the SCAN's split count. Spark sizes splits by input bytes
    (maxPartitionBytes / openCostInBytes), which is right for scans but
    wrong for amplifying maps: a single small file becomes ONE task
    doing 100x work. At 100 TB the table has thousands of row groups
    and this gate never fires; on a small/compacted input it buys the
    full core count for the expensive stage at the cost of one narrow
    shuffle of the raw rows.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    if key_cols:
        return df.repartition(target, *[F.col(c) for c in key_cols])
    return df.repartition(target)


def shuffle_width(spark: SparkSession, rows: int = 0, rows_per_task: int = 1) -> int:
    """The partition count of an explicit shuffle: the session's
    explicitly set ``spark.sql.shuffle.partitions``, else
    ``max(defaultParallelism, 8)`` (``session.get_spark``'s default),
    raised to ``ceil(rows / rows_per_task)`` so per-task work stays
    bounded as the input grows.

    The unset case deliberately ignores Spark's own default of 200:
    several callers use the width as a replication factor (salted joins
    replicate one side ``width`` times, blocked cross joins ``4·width``
    times), where 200 would multiply rows, not just tasks."""
    base = spark.conf.get("spark.sql.shuffle.partitions", None)
    if base is None:
        base = max(spark.sparkContext.defaultParallelism, 8)
    return max(int(base), -(-rows // rows_per_task))
