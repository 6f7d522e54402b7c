"""SparkSession factory.

Config choices are made for cluster-scale behavior even though tests run
on ``local[*]``:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic broadcast-join demotion/promotion — all essential at 100 TB.
- Arrow on: every Pandas-UDF path (clustering inner loops, multimodal
  decode) moves data in columnar batches instead of pickled rows.
- UTC session timezone: deterministic timestamp semantics that match the
  DuckDB correctness oracle.
- shuffle partitions default to ``max(cores, 8)``; on a real cluster
  this would be set to ~2-3x total executor cores (AQE coalesces down).
  Query code reads the width only through ``io.shuffle_width``, which
  applies the same default when a caller's session leaves it unset.
- Python workers run ``spark_clustering_spark.worker_daemon``
  (``spark.python.daemon.module``) instead of ``pyspark.daemon``: on
  Python < 3.13 pyspark's per-task ``importlib.invalidate_caches()``
  re-reads the whole central directory of ``pyspark.zip`` and the py4j
  zip, ~0.1 s before every task's kernel; the daemon skips the re-read
  of an archive that has not changed. Delete the module and this conf
  once the workers run Python 3.13, whose stock call is lazy.
- Workers start that daemon (and every Arrow kernel here) by importing
  this package, so the package's parent directory is appended to
  ``spark.executorEnv.PYTHONPATH``: they import it from wherever the
  driver did, whatever the cwd or ``PYTHONPATH``. Sessions built
  without ``get_spark`` keep the stock daemon (the conf is static per
  SparkContext) and still need the package on the workers' path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def default_driver_memory() -> str:
    """Half the host's physical memory, never above 16g."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(phys_mb // 2, 16 * 1024)}m"


def get_spark(
    app_name: str = "spark-clustering-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine."""
    if master is None:
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(default_parallelism(), 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local mode = one JVM: the 1g default heap caps every cache and
        # shuffle; size it to the machine (only applies at JVM launch)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_driver_memory()),
        )
        # Whole-stage-codegen class cache (static conf, default 100
        # entries). This engine serves a 322-query inventory from one
        # long-lived session; at 5-15 generated classes per plan the
        # default cache thrashes and EVERY re-execution pays full Janino
        # recompilation (measured: q_dedup_canonical 10.6 s benched vs
        # 2.8 s warm — the gap is recompilation, guide §1.2 step 3).
        # Sized to hold the whole inventory's codegen; metaspace cost is
        # a few hundred MB on any real driver/executor.
        .config(
            "spark.sql.codegen.cache.maxEntries",
            os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "8000"),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the driver-generated events table stores TIMESTAMP(NANOS) which
        # vanilla Spark rejects; read as long and convert in io.table()
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
        .config("spark.python.daemon.module", "spark_clustering_spark.worker_daemon")
    )
    conf = dict(extra_conf or {})
    engine_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (conf.get("spark.executorEnv.PYTHONPATH"), engine_root) if p
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # codegen.cache.maxEntries is a STATIC conf: if a SparkSession
    # already existed in this JVM, getOrCreate silently ignored it and
    # the 100-entry default thrashes under the 322-plan inventory
    # (ADVICE r11) — warn loudly so embedded/reused-session callers
    # notice instead of silently paying Janino recompilation per query.
    intended = int(os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "8000"))
    try:
        actual = int(spark.conf.get("spark.sql.codegen.cache.maxEntries"))
    except Exception:
        actual = -1
    if actual < intended:
        import warnings

        warnings.warn(
            f"spark.sql.codegen.cache.maxEntries={actual} < intended "
            f"{intended}: a pre-existing SparkSession ignored the static "
            "conf; this session will recompile codegen classes per query "
            "(see session.py / OPTIMIZATION_r11.md #2)",
            RuntimeWarning,
            stacklevel=2,
        )
    return spark
