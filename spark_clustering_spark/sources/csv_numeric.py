"""Headerless numeric CSV ingest — the reference's only source format.

Reference behavior (kmeans.java:203-239): comma-delimited, no header,
every token Double-parsed, blank lines skipped, width inferred as the
max token count. Divergence per SURVEY.md Q10: ragged (non-rectangular)
input raises instead of silently null-padding.

Spark-first: ``spark.read.csv`` with schema inference does the parse
JVM-side; we validate rectangularity with one cheap aggregate and
assemble ``features: array<double>`` + a stable ``id`` derived from
file position. At 100 TB this scales as a normal partitioned text scan;
the id assignment uses a deterministic sort key, never a driver loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_numeric_csv(spark: SparkSession, path: str) -> DataFrame:
    """Read a headerless numeric CSV into ``(id bigint, features array<double>)``.

    ``id`` is the 0-based line order of the file (deterministic: Spark's
    text source preserves intra-file order via filename+offset sort).
    """
    raw = (
        spark.read.option("header", "false")
        .option("mode", "FAILFAST")
        .csv(path)
    )
    cols = raw.columns
    # Rectangularity check (Q10): any null cell means a ragged/short row.
    null_flags = [F.col(c).isNull() for c in cols]
    any_null = null_flags[0]
    for flag in null_flags[1:]:
        any_null = any_null | flag
    ragged = raw.where(any_null).limit(1).count()
    if ragged:
        raise ValueError(f"ragged CSV input (non-rectangular rows): {path}")
    feats = F.array(*[F.col(c).cast("double") for c in cols])
    bad = raw.select(feats.alias("f")).where(
        F.exists(F.col("f"), lambda x: x.isNull())
    ).limit(1).count()
    if bad:
        raise ValueError(f"non-numeric token in CSV input: {path}")
    # Deterministic 0-based id by (file, in-file position) order, minted
    # by global_running_agg's two-pass rank: literal slice cuts on the
    # order key, per-slice counts, carry-in offsets — the R1 ingest
    # front door never funnels the dataset through one reducer.
    from spark_clustering_spark.operators.windows import global_running_agg

    base = raw.withColumn("_file", F.input_file_name()).withColumn(
        "_pos", F.monotonically_increasing_id()
    )
    ranked, _ = global_running_agg(
        base, [F.col("_file"), F.col("_pos")], {"_rn": ("count", None)}
    )
    return ranked.select(
        (F.col("_rn") - 1).cast("bigint").alias("id"), feats.alias("features")
    )
