"""Scan / source / sink operators (SURVEY.md §2B "Scans").

Generalizes the reference's CSV ingest (reference kmeans.java:203-239,
R1) and metrics sink (kmeans.java:261-270, R20) into Spark-native
sources: columnar parquet scans with column pruning, and a
width-inferred headerless-CSV ingest producing ``(id, features)``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_clustering_spark.io import artifact, scratch, table
from spark_clustering_spark.registry import query
from spark_clustering_spark.sources.csv_numeric import read_numeric_csv

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.dirname(__file__)), "fixtures")


@query(
    "q_scan_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
           strftime(l_shipdate, '%Y-%m-%d') AS ship_date
    FROM lineitem
    """,
)
def q_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed column projection off parquet. Catalyst prunes the scan to
    exactly these 5 columns (check: ReadSchema in .explain)."""
    return table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_date"),
    )


_CSV_FIXTURE = os.path.join(FIXTURE_DIR, "csv_tiny.csv")


@query(
    "q_scan_csv_infer",
    # DuckDB reads the same committed fixture by absolute path (single
    # small file → scan order = file order, so row_number gives the
    # same 0-based line ids as the Spark reader's file-position sort)
    oracle=f"""
    SELECT (row_number() OVER () - 1)::BIGINT AS id,
           2::INT AS width,
           concat(format('{{:.4f}}', column0), ',',
                  format('{{:.4f}}', column1)) AS features_csv
    FROM read_csv('{_CSV_FIXTURE}', header=false)
    """,
)
def q_scan_csv_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Headerless numeric CSV ingest, width inferred from the file
    (reference R1 semantics; ragged input is an error per SURVEY.md Q10).

    Output is ``(id, width, features_csv)`` — the features array is
    rendered as a fixed-precision comma-joined string so every output
    column is scalar/hashable (the driver's canonicalizer sorts rows
    with pandas, which cannot hash list cells).
    """
    df = read_numeric_csv(spark, os.path.join(FIXTURE_DIR, "csv_tiny.csv"))
    return df.select(
        "id",
        F.size("features").alias("width"),
        F.concat_ws(
            ",", F.transform("features", lambda x: F.format_string("%.4f", x))
        ).alias("features_csv"),
    )


@query(
    "q_sink_metrics",
    # the written metrics are deterministic expressions of the row
    # index, so the oracle reproduces them directly — verifying that the
    # parquet write/read round-trip preserves every value bit-exactly
    oracle="""
    SELECT i::INT AS iter,
           (1000.0::DOUBLE / (i + 1)) AS best_objectvalue,
           (10 + i)::BIGINT AS iter_ms
    FROM (SELECT unnest(range(5)) AS i)
    """,
)
def q_sink_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append an iteration-metrics table (reference R20 sink schema:
    iter, best_objectvalue, iter_ms) as parquet and read it back."""
    metrics = spark.createDataFrame(
        [(i, 1000.0 / (i + 1), 10 + i) for i in range(5)],
        "iter INT, best_objectvalue DOUBLE, iter_ms BIGINT",
    )
    out = scratch("q_sink_metrics")
    metrics.write.mode("append").parquet(out)
    return spark.read.parquet(out)


@query(
    "q_sink_partitioned",
    # the partitioned round-trip must reproduce exactly what a direct
    # filtered aggregate over the source produces — that makes the
    # write path itself hash-verifiable
    oracle="""
    SELECT user_id, count(*) AS n_clicks
    FROM events WHERE event_type = 'click'
    GROUP BY user_id
    """,
)
def q_sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned parquet sink + partition-pruned read-back.

    Writes events partitioned by event_type (at 100 TB the partition
    column would be coarser — date or date×type — same mechanics), then
    reads the lake back with a partition filter: only the one matching
    directory is listed/scanned (PartitionFilters in the plan —
    asserted in tests/test_plans.py), the other partitions are never
    opened. The aggregate of the pruned read must hash-match a direct
    filtered aggregate over the source table."""
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    out = scratch("q_sink_partitioned")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    lake = spark.read.parquet(out)
    return (
        lake.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )


@query(
    "q_scan_merge_schema",
    # the evolved lake must serve old + new batches under the union
    # schema: rows from the v1 batch carry NULL for the later column
    oracle="""
    SELECT r_regionkey, r_name, NULL::VARCHAR AS r_alias FROM region
    UNION ALL
    SELECT r_regionkey, r_name, lower(r_name) AS r_alias FROM region
    """,
)
def q_scan_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution: a v1 batch (2 columns) and a v2 batch (adds
    r_alias) land in the same lake path; reading with mergeSchema=true
    serves both under the union schema, v1 rows null-filled. At 100 TB
    this is how a lake absorbs producer schema changes without
    rewriting history — parquet footers carry per-file schemas and the
    scan reconciles them."""
    r = table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    out = scratch("q_scan_merge_schema")
    r.write.mode("append").parquet(out)  # v1 schema
    r.withColumn("r_alias", F.lower("r_name")).write.mode("append").parquet(out)
    return spark.read.option("mergeSchema", "true").parquet(out)


@query(
    "q_sink_compact",
    # compaction must be content-neutral: the compacted lake aggregates
    # exactly like the source table
    oracle="""
    SELECT o_orderpriority, count(*) AS n,
           min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_sink_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: a fragmented write (32 files) is
    rewritten into 4 right-sized files — repartition(4) forces a
    round-robin shuffle so the output files are even, unlike coalesce
    which can skew. The compacted lake must aggregate identically to
    the source (content-neutrality is the whole point of compaction);
    at 100 TB the target file count comes from total_bytes /
    target_file_size, not a constant."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    base = scratch("q_sink_compact")
    frag = os.path.join(base, "frag")
    o.repartition(32).write.mode("overwrite").parquet(frag)
    compact = os.path.join(base, "compact")
    spark.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(compact)
    lake = spark.read.parquet(compact)
    n_files = len([f for f in os.listdir(compact) if f.endswith(".parquet")])
    assert n_files == 4, f"compaction produced {n_files} files"
    return lake.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


_JSONL_FIXTURE = os.path.join(FIXTURE_DIR, "events_tiny.jsonl")

# DuckDB auto-detects the same types the explicit Spark schema declares
# (ints BIGINT, score DOUBLE, list/struct nesting); null semantics line
# up too: len(NULL list) and tags[1] on a missing/empty list are NULL
# in DuckDB exactly where Spark's size()/try_element_at() yield NULL.
from spark_clustering_spark.functions.detagg import sql_dround  # noqa: E402


@query(
    "q_scan_jsonl",
    oracle=f"""
    SELECT id, "user" AS user, kind,
           {sql_dround('score')} AS score,
           len(tags)::BIGINT AS n_tags,
           tags[1] AS first_tag,
           meta.device AS device,
           meta.v AS v
    FROM read_json('{_JSONL_FIXTURE}', format='newline_delimited')
    """,
)
def q_scan_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newline-delimited JSON source with an explicit nested schema
    (array + struct columns), flattened to hashable scalars.

    Schema is declared rather than inferred: on a 100 TB corpus,
    inference is an extra full pass over the data AND can silently
    widen types between runs — production JSONL ingest pins the schema.
    Missing fields exercise null propagation (size/try_element_at on a
    null array, struct access on a null struct)."""
    from spark_clustering_spark.functions.detagg import dround

    schema = (
        "id bigint, user string, kind string, score double, "
        "tags array<string>, meta struct<device: string, v: bigint>"
    )
    df = spark.read.schema(schema).json(_JSONL_FIXTURE)
    return df.select(
        "id",
        "user",
        "kind",
        dround("score").alias("score"),
        F.size("tags").cast("bigint").alias("n_tags"),
        F.try_element_at("tags", F.lit(1)).alias("first_tag"),
        F.col("meta.device").alias("device"),
        F.col("meta.v").alias("v"),
    )


from spark_clustering_spark.functions.detagg import dsum, sql_dsum  # noqa: E402


@query(
    "q_sink_orc",
    # format neutrality: an ORC round-trip must aggregate exactly like
    # the parquet source it was written from
    oracle=f"""
    SELECT l_returnflag, l_linestatus, count(*) AS n_lines,
           {sql_dsum('l_quantity', 'sum_qty')},
           {sql_dsum('l_extendedprice', 'sum_price')}
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-06-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_sink_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + read-back: the second columnar lake format Spark
    ships a vectorized reader for. Values must survive the round-trip
    bit-exactly — the read-back aggregate hash-matches a direct
    aggregate over the parquet source. Predicate pushdown works the
    same as parquet (the shipdate filter is applied at write here, so
    the ORC lake is already the pruned slice; a filter on the read side
    would push into the ORC scan identically)."""
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") >= F.lit("1997-06-01").cast("timestamp"))
        .select(
            "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice"
        )
    )
    out = scratch("q_sink_orc")
    li.write.mode("overwrite").option("compression", "zlib").orc(out)
    back = spark.read.orc(out)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_lines"),
        dsum("l_quantity", "sum_qty"),
        dsum("l_extendedprice", "sum_price"),
    )


@query(
    "q_sink_upsert",
    # MERGE semantics without a table format: the oracle states the
    # post-merge table directly; the engine path materializes it as a
    # copy-on-write parquet swap and reads it back
    oracle="""
    WITH updates AS (
      SELECT c_custkey, 'SEGMENT_X' AS c_mktsegment, 0.0::DOUBLE AS c_acctbal
      FROM customer WHERE c_custkey % 10 = 3
      UNION ALL
      SELECT 9000000 + r_regionkey, 'SEGMENT_NEW', 100.0 FROM region
    )
    SELECT coalesce(u.c_custkey, c.c_custkey) AS c_custkey,
           coalesce(u.c_mktsegment, c.c_mktsegment) AS c_mktsegment,
           coalesce(u.c_acctbal, c.c_acctbal) AS c_acctbal,
           (u.c_custkey IS NOT NULL)::INT AS was_upserted
    FROM customer c FULL OUTER JOIN updates u USING (c_custkey)
    """,
)
def q_sink_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (upsert) as copy-on-write: matched rows take the
    update's columns, unmatched updates insert, unmatched base rows
    carry over. Without a table format (Delta/Iceberg) this is the
    full-outer-join + rewrite pattern; on a real lake only the files
    containing matched keys would be rewritten (partition-pruned
    copy-on-write), but the join/coalesce semantics are exactly these.
    The merged result round-trips through a parquet swap directory to
    prove the rewrite path, then reads back."""
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    r = table(spark, sf_dir, "region")
    updates = (
        c.filter(F.col("c_custkey") % 10 == 3)
        .select(
            "c_custkey",
            F.lit("SEGMENT_X").alias("c_mktsegment"),
            F.lit(0.0).alias("c_acctbal"),
        )
        .unionByName(
            r.select(
                (F.lit(9000000) + F.col("r_regionkey")).alias("c_custkey"),
                F.lit("SEGMENT_NEW").alias("c_mktsegment"),
                F.lit(100.0).alias("c_acctbal"),
            )
        )
    )
    u = updates.alias("u")
    base = c.alias("c")
    merged = base.join(u, ["c_custkey"], "full_outer").select(
        "c_custkey",
        F.coalesce("u.c_mktsegment", "c.c_mktsegment").alias("c_mktsegment"),
        F.coalesce("u.c_acctbal", "c.c_acctbal").alias("c_acctbal"),
        F.col("u.c_mktsegment").isNotNull().cast("int").alias("was_upserted"),
    )
    out = scratch("q_sink_upsert")
    merged.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


@query(
    "q_cdc_snapshot_diff",
    # v1/v2 are deterministic mutations of orders: keys %11==3 arrive
    # only in v2 (inserts), keys %13==5 vanish from v2 (deletes), keys
    # %7==0 flip status in v2 (updates); everything else is unchanged
    # and excluded from the change feed
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 11 <> 3
    ),
    v2 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END
               AS o_orderstatus
      FROM orders WHERE o_orderkey % 13 <> 5
    )
    SELECT coalesce(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
           CASE WHEN v1.o_orderkey IS NULL THEN 'insert'
                WHEN v2.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           v1.o_orderstatus AS old_status,
           v2.o_orderstatus AS new_status
    FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
    WHERE v1.o_orderkey IS NULL OR v2.o_orderkey IS NULL
       OR v1.o_orderstatus <> v2.o_orderstatus
    """,
)
def q_cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture by snapshot diff: two versions of the orders
    table full-outer-joined on the key, emitting insert/delete/update
    change rows and dropping unchanged ones — the way you derive a
    change feed when the source has no transaction log.

    Scale shape: one co-partitioned sort-merge join keyed on the
    primary key (both sides shuffle on the same key once); the
    unchanged-row filter drops the bulk of the output before anything
    downstream. On a lake with a real table format the change log
    replaces the diff, but the join/classify semantics are exactly
    these."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    v1 = o.filter(F.col("o_orderkey") % 11 != 3)
    v2 = o.filter(F.col("o_orderkey") % 13 != 5).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
    )
    j = v1.alias("v1").join(
        v2.alias("v2"),
        F.col("v1.o_orderkey") == F.col("v2.o_orderkey"),
        "full_outer",
    )
    return j.filter(
        F.col("v1.o_orderkey").isNull()
        | F.col("v2.o_orderkey").isNull()
        | (F.col("v1.o_orderstatus") != F.col("v2.o_orderstatus"))
    ).select(
        F.coalesce("v1.o_orderkey", "v2.o_orderkey").alias("o_orderkey"),
        F.when(F.col("v1.o_orderkey").isNull(), "insert")
        .when(F.col("v2.o_orderkey").isNull(), "delete")
        .otherwise("update")
        .alias("change_type"),
        F.col("v1.o_orderstatus").alias("old_status"),
        F.col("v2.o_orderstatus").alias("new_status"),
    )


ZORDER_BITS = 8        # 8 bits per key -> 16-bit z-value
ZORDER_BUCKET_SHIFT = 10  # keep the top 6 z bits -> 64 layout buckets


def zorder_value(x, y, bits: int = ZORDER_BITS):
    """Interleave the low ``bits`` of two integer keys into a Morton
    (Z-order) value — pure integer expression math, identical in any
    engine. Bit i of x lands at 2i, bit i of y at 2i+1."""
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(x.cast("bigint"), i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(y.cast("bigint"), i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def _sql_zorder(x: str, y: str, bits: int = ZORDER_BITS) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({x}) // {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"((({y}) // {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


@query(
    "q_layout_zorder",
    # the z-value / bucket math is integer-exact in both engines; the
    # per-bucket extents PROVE the locality claim: every 64th of the
    # z-range covers a bounded rectangle of (x, y) space
    oracle=f"""
    WITH keyed AS (
      SELECT l_orderkey, (l_partkey % 256) AS x, (l_suppkey % 256) AS y
      FROM lineitem
    ),
    z AS (
      SELECT l_orderkey, x, y,
             {_sql_zorder('x', 'y')} // {1 << ZORDER_BUCKET_SHIFT} AS zbucket
      FROM keyed
    )
    SELECT zbucket::BIGINT AS zbucket, count(*) AS n,
           min(x)::BIGINT AS x_min, max(x)::BIGINT AS x_max,
           min(y)::BIGINT AS y_min, max(y)::BIGINT AS y_max
    FROM z GROUP BY zbucket
    """,
)
def q_layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout bucketing — the data-layout optimization
    that makes TWO-dimensional predicates prunable from ONE partition /
    sort dimension: interleaving the bits of (x, y) gives a 1-D key
    whose contiguous ranges cover bounded (x, y) rectangles, so a
    box predicate touches only the buckets its box intersects instead
    of every partition. Emits each bucket's row count and (x, y)
    extents — the per-bucket spans ARE the locality proof (≤ 32×64 of
    the 256×256 key space per bucket vs the full space under id-order).
    At 100 TB this bucket id is the `partitionBy`/`sortWithinPartitions`
    key at write time; the pruning behavior itself is asserted in
    tests/test_plans.py on a written lake."""
    li = table(spark, sf_dir, "lineitem")
    x = F.pmod("l_partkey", F.lit(256))
    y = F.pmod("l_suppkey", F.lit(256))
    z = zorder_value(x, y)
    keyed = li.select(
        x.alias("x"), y.alias("y"),
        F.shiftright(z, ZORDER_BUCKET_SHIFT).alias("zbucket"),
    )
    return keyed.groupBy("zbucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("x").alias("x_min"), F.max("x").alias("x_max"),
        F.min("y").alias("y_min"), F.max("y").alias("y_max"),
    )


@query(
    "q_cdc_apply_changelog",
    oracle="""
    WITH ranked AS (
      SELECT user_id, ts, event_type,
             json_extract_string(props, '$.k')::BIGINT AS k,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
           event_type AS last_type, k AS last_k
    FROM ranked WHERE rn = 1 AND event_type <> 'error'
    """,
)
def q_cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog materialization (the lakehouse CDC-apply complement
    of q_cdc_snapshot_diff and q_sink_upsert): collapse an event
    changelog to current per-key state by LAST-WRITER-WINS — the max
    (ts, event_id) event per user defines the row; keys whose latest
    entry is a tombstone ('error' here) disappear from the
    materialized table. This is exactly how a Debezium/Hudi-style
    merge-on-read compaction resolves a key's row group.

    Determinism: ordering is (ts, event_id) — a total order, so rn=1
    is unique; the payload extraction is the same JSON path in both
    engines.

    Scale: one shuffle on the key; the per-key window streams each
    key group once (equivalently max_by). On a partitioned lake only
    changelog partitions newer than the last checkpoint are read —
    the same delta-pruning argument as q_mv_incremental; compaction
    state per key is ONE row."""
    e = table(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.select(
            "user_id",
            "ts",
            "event_type",
            F.get_json_object("props", "$.k").cast("bigint").alias("k"),
            F.row_number().over(w).alias("rn"),
        )
        .filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .select(
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
            F.col("event_type").alias("last_type"),
            F.col("k").alias("last_k"),
        )
    )


@query(
    "q_scan_dpp",
    # runtime pruning changes which FILES are read, never the answer:
    # the oracle is the plain join aggregate
    oracle="""
    SELECT o.o_orderpriority, count(*) AS n_orders,
           cast(cast(round(sum(cast(o.o_totalprice AS DECIMAL(38,8))), 4) AS VARCHAR) AS DOUBLE) AS total_price
    FROM orders o
    JOIN (SELECT DISTINCT o_orderpriority AS pri FROM orders
          WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')) d
      ON d.pri = o.o_orderpriority
    GROUP BY o.o_orderpriority
    """,
)
def q_scan_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is written
    Hive-partitioned by priority, then joined to a FILTERED dimension
    on the partition column — Catalyst injects a runtime
    dynamicpruning subquery into the fact scan so only the dimension's
    surviving partitions are ever read (asserted on the plan in
    tests/test_plans.py). Static pruning (q_sink_partitioned) covers
    literal predicates; DPP covers predicates only known at RUNTIME
    through a join — the star-schema case where the date/priority dim
    carries the selective filter.

    Scale: at 100 TB this is the difference between scanning 2/5 of
    the lake and all of it, decided per query with zero user hints.

    The partitioned copy is a FIXTURE for the plan (the answer comes
    from the same rows either way), so it is a session artifact: written
    once per (application, sf_dir) into this key's scratch dir and
    reused by every later call, so repeat bench/parity runs don't pay a
    full table rewrite."""
    o = table(spark, sf_dir, "orders")

    def build() -> str:
        out = scratch("q_scan_dpp")
        o.write.mode("overwrite").partitionBy("o_orderpriority").parquet(out)
        return out

    fact = spark.read.parquet(artifact(spark, sf_dir, "dpp_orders", build))
    dim = (
        o.select(F.col("o_orderpriority").alias("pri"))
        .distinct()
        .filter(F.col("pri").isin("1-URGENT", "2-HIGH"))
    )
    return (
        fact.join(dim, fact["o_orderpriority"] == dim["pri"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(38,8)")), 4)
            .cast("double")
            .alias("total_price"),
        )
    )


@query(
    "q_cdc_scd2",
    oracle="""
    WITH ch AS (
      SELECT user_id, event_type AS status,
             epoch_us(ts) AS ts_us, event_id,
             lag(event_type) OVER w AS prev_status
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    starts AS (
      SELECT user_id, status, ts_us,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts_us, event_id) AS version
      FROM ch
      WHERE prev_status IS NULL OR status <> prev_status
    )
    SELECT user_id, status, version::INT AS version,
           ts_us AS valid_from_us,
           lead(ts_us) OVER (PARTITION BY user_id ORDER BY version)
             AS valid_to_us
    FROM starts
    """,
)
def q_cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension TYPE 2 build from a changelog: treat
    each user's event stream as status changes, collapse consecutive
    duplicates (gaps-and-islands), and emit versioned validity
    intervals [valid_from, valid_to) with NULL valid_to for the
    current version — the warehouse operator that turns a CDC feed
    into an as-of-joinable history table (completing the CDC family:
    snapshot diff, last-writer-wins apply, and now full history).

    Scale: both windows partition by user_id — one hash shuffle
    reused across the change-detection, versioning, and interval
    close; per-user state is one prior row. No global order
    anywhere."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    ch = e.select(
        "user_id",
        F.col("event_type").alias("status"),
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        F.lag("event_type").over(w).alias("prev_status"),
    )
    starts = ch.filter(
        F.col("prev_status").isNull()
        | (F.col("status") != F.col("prev_status"))
    ).select(
        "user_id",
        "status",
        "ts_us",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts_us", "event_id"))
        .alias("version"),
    )
    wv = Window.partitionBy("user_id").orderBy("version")
    return starts.select(
        "user_id",
        "status",
        F.col("version").cast("int").alias("version"),
        F.col("ts_us").alias("valid_from_us"),
        F.lead("ts_us").over(wv).alias("valid_to_us"),
    )


@query(
    "q_sink_xml",
    # format neutrality, semi-structured leg: an XML round-trip (Spark
    # 4's built-in xml data source) must aggregate exactly like the
    # parquet source it was written from
    oracle=f"""
    SELECT c_mktsegment, count(*) AS n_customers,
           {sql_dsum('c_acctbal', 'sum_bal')}
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def q_sink_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + source round-trip (Spark 4 native `xml` format,
    the spark-xml connector merged upstream): write the customer
    dimension as row-tagged XML, read it back with explicit rowTag,
    aggregate — completing the format matrix (parquet / ORC / CSV /
    JSONL / XML) with the schema-inferring semi-structured leg.

    Scale: XML is a fan-out/interchange format, not a lake format —
    the round-trip is over a dimension table by design; fact data
    stays columnar. The read infers types (acctbal back as double,
    keys as bigint), so the aggregate is bit-identical to the parquet
    original under the detagg decimal discipline."""
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    out = scratch("q_sink_xml")
    (
        c.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "customers")
        .option("rowTag", "customer")
        .save(out)
    )
    back = spark.read.format("xml").option("rowTag", "customer").load(out)
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        dsum("c_acctbal", "sum_bal"),
    )
