"""Aggregation operators (SURVEY.md §2B "Aggregations").

The reference hand-rolls partial+final aggregation with combineByKey
(kmeans.java:124-164); every groupBy here gets the same map-side
partial / reduce-side final split from Catalyst automatically
(HashAggregateExec pairs — visible in .explain).

All float sums go through exact DECIMAL(38,8) accumulation
(functions/detagg.py) so results are independent of partitioning —
required both for oracle hash-matching and for run-to-run
reproducibility on a real cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_clustering_spark.functions.detagg import (
    DEC,
    davg,
    dround,
    dsum,
    sql_davg,
    sql_dround,
    sql_dsum,
)
from spark_clustering_spark.io import pin, register_temp_views, table
from spark_clustering_spark.registry import query


@query(
    "q_agg_hash",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity', 'sum_qty')},
           {sql_dsum('l_extendedprice', 'sum_base_price')},
           {sql_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
           {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
           {sql_davg('l_quantity', 'avg_qty')},
           {sql_davg('l_extendedprice', 'avg_price')},
           {sql_davg('l_discount', 'avg_disc')},
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_agg_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary — the flagship hash aggregation
    (maps the reference's combineByKey partial/final pattern, R5)."""
    from spark_clustering_spark.io import spread

    # spread before the aggregate: seven DECIMAL(38,8) partial
    # aggregates per row are the heaviest per-row map in the agg
    # family (double->decimal casts go through BigDecimal.valueOf),
    # and a compacted single-row-group scan pins them to ONE task
    li = spread(table(spark, sf_dir, "lineitem"))
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(net, "sum_disc_price"),
            dsum(net * (1 + F.col("l_tax")), "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q_agg_distinct",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS distinct_parts,
           count(DISTINCT l_suppkey) AS distinct_supps,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed distinct + plain aggregates (Catalyst plans the expand +
    two-phase distinct aggregation)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("distinct_parts"),
        F.countDistinct("l_suppkey").alias("distinct_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "q_agg_rollup",
    oracle=f"""
    SELECT n.n_name, c.c_mktsegment,
           count(*) AS n_cust,
           {sql_dsum('c.c_acctbal', 'sum_bal')}
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY ROLLUP (n.n_name, c.c_mktsegment)
    """,
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (nation, market segment): subtotals + grand total."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .rollup("n_name", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_cust"), dsum("c_acctbal", "sum_bal"))
    )


@query(
    "q_agg_cube",
    oracle=f"""
    SELECT o_orderpriority, o_orderstatus,
           count(*) AS n_orders,
           {sql_dsum('o_totalprice', 'sum_price')}
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (priority, status): all grouping combinations."""
    o = table(spark, sf_dir, "orders")
    return o.cube("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "sum_price")
    )


@query(
    "q_agg_groupingsets",
    oracle=f"""
    SELECT o_orderpriority, o_orderstatus,
           grouping(o_orderpriority)::INT + 2 * grouping(o_orderstatus)::INT AS gid,
           count(*) AS n_orders,
           {sql_dsum('o_totalprice', 'sum_price')}
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority), ())
    """,
)
def q_agg_groupingsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS + a grouping-flag id (encoded explicitly
    as grouping(a) + 2*grouping(b) so both engines agree bit-for-bit)."""
    register_temp_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               cast(grouping(o_orderpriority) AS INT)
                 + 2 * cast(grouping(o_orderstatus) AS INT) AS gid,
               count(*) AS n_orders,
               cast(round(sum(cast(o_totalprice AS DECIMAL(38,8))), 4) AS DOUBLE)
                 AS sum_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "q_agg_percentile",
    oracle="""
    SELECT l_returnflag,
           cast(cast(round(cast(cast((quantile_cont(l_extendedprice, 0.5)) AS VARCHAR)
                AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS p50,
           cast(cast(round(cast(cast((quantile_cont(l_extendedprice, 0.9)) AS VARCHAR)
                AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS p90,
           cast(cast(round(cast(cast((quantile_cont(l_extendedprice, 0.99)) AS VARCHAR)
                AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS p99
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark percentile == DuckDB
    quantile_cont: both sort and linearly interpolate, so the doubles
    are bit-identical). The approximate scale path is
    q_agg_approx_distinct's sibling approx_percentile, kept out of the
    hash-matched surface because sketches are engine-specific.

    Plan notes: exact percentile buffers the whole value multiset per
    aggregate expression, so the three cut points share ONE
    array-argument percentile (one buffer, not three), and the input is
    ``spread()`` first — the buffering partial pass is the cost, and a
    3-split scan would pin it to 3 cores."""
    from spark_clustering_spark.functions.detagg import dround
    from spark_clustering_spark.io import spread

    li = spread(
        table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_extendedprice"
        )
    )
    pcts = F.percentile(
        "l_extendedprice", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))
    )
    return (
        li.groupBy("l_returnflag")
        .agg(pcts.alias("ps"))
        .select(
            "l_returnflag",
            dround(F.col("ps")[0]).alias("p50"),
            dround(F.col("ps")[1]).alias("p90"),
            dround(F.col("ps")[2]).alias("p99"),
        )
    )


@query(
    "q_agg_pivot",
    oracle="""
    SELECT o_orderpriority,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts by priority × status, statuses as columns.
    The value list is given explicitly (['F','O','P']) so Catalyst skips
    the extra distinct-values job a blind pivot would run — at scale the
    pivot is then a single hash aggregate with one CASE-guarded counter
    per pivoted value, same plan as the SQL FILTER formulation."""
    o = table(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "o_orderpriority",
        *[
            F.coalesce(F.col(s), F.lit(0).cast("bigint")).alias(f"n_{s.lower()}")
            for s in ("F", "O", "P")
        ],
    )


@query(
    "q_agg_unpivot",
    oracle="""
    WITH p AS (
      SELECT o_orderpriority,
             count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
             count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
             count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, 'n_f' AS status_col, n_f AS n FROM p
    UNION ALL
    SELECT o_orderpriority, 'n_o' AS status_col, n_o AS n FROM p
    UNION ALL
    SELECT o_orderpriority, 'n_p' AS status_col, n_p AS n FROM p
    """,
)
def q_agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): the wide pivoted counts back to long form —
    Catalyst plans a single Expand node (each input row fans to one row
    per value column), no shuffle beyond the source aggregate."""
    wide = q_agg_pivot(spark, sf_dir)
    return wide.unpivot(
        ["o_orderpriority"], ["n_f", "n_o", "n_p"], "status_col", "n"
    )


@query(
    "q_agg_approx_distinct",
    # HLL sketch values are engine-specific, so the oracle cannot match
    # the estimate itself. Instead the query returns an ERROR ENVELOPE:
    # the exact distinct count plus a boolean asserting the HLL estimate
    # landed within 5% relative error (rsd=0.02 → ~2% typical). The
    # oracle computes the same exact count and claims TRUE — if Spark's
    # sketch ever drifted past the envelope the hash would fail.
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS exact_users,
           count(*) AS n_events,
           TRUE AS within_5pct
    FROM events GROUP BY event_type
    """,
)
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approximate distinct users per event type, hash-verified via
    an error envelope: |approx − exact| / exact ≤ 5%. The exact count
    rides along for the oracle compare; at 100 TB you would drop the
    exact column and trust the (tested) envelope."""
    ev = table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("_approx"),
        F.countDistinct("user_id").alias("exact_users"),
        F.count(F.lit(1)).alias("n_events"),
    )
    err = F.abs(F.col("_approx") - F.col("exact_users")) / F.col("exact_users")
    return agg.select(
        "event_type",
        "exact_users",
        "n_events",
        (err <= F.lit(0.05)).alias("within_5pct"),
    )


@query(
    "q_agg_approx_percentile",
    # same envelope pattern as q_agg_approx_distinct: the GK-sketch
    # value is engine-specific, so the query emits the exact discrete
    # percentiles (order-proof — percentile_disc returns an actual data
    # value, no float interpolation) plus booleans asserting the sketch
    # landed inside the exact ±0.01-rank band; the oracle computes the
    # same exact values and claims TRUE
    oracle="""
    SELECT o_orderpriority,
           quantile_disc(o_totalprice, 0.5) AS p50_exact,
           quantile_disc(o_totalprice, 0.9) AS p90_exact,
           TRUE AS p50_ok,
           TRUE AS p90_ok
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (GK sketch, ``percentile_approx``) per
    order priority, hash-verified via a rank-error envelope: with
    accuracy 10000 the sketch guarantees rank error ≤ 1/10000, so the
    estimate must lie within the exact [p−0.01, p+0.01] discrete
    percentile band — far looser than the guarantee, far tighter than
    garbage. At 100 TB the sketch is the only viable path (exact
    percentiles need a full sort per group; the sketch is one
    mergeable map-side state per partition) — the exact columns ride
    along only for the oracle compare at test scale."""
    from spark_clustering_spark.io import spread

    # spread: seven sort-based percentile partials (percentile_disc
    # buffers collect every value) would otherwise build in the single
    # scan task of a compacted input
    o = spread(table(spark, sf_dir, "orders"))

    def disc(p: float):
        return F.expr(
            f"percentile_disc({p}) WITHIN GROUP (ORDER BY o_totalprice)"
        )

    agg = o.groupBy("o_orderpriority").agg(
        F.percentile_approx("o_totalprice", [0.5, 0.9], 10000).alias("_ap"),
        disc(0.5).alias("p50_exact"),
        disc(0.9).alias("p90_exact"),
        disc(0.49).alias("_p50_lo"),
        disc(0.51).alias("_p50_hi"),
        disc(0.89).alias("_p90_lo"),
        disc(0.91).alias("_p90_hi"),
    )
    return agg.select(
        "o_orderpriority",
        "p50_exact",
        "p90_exact",
        F.col("_ap")[0].between(F.col("_p50_lo"), F.col("_p50_hi")).alias("p50_ok"),
        F.col("_ap")[1].between(F.col("_p90_lo"), F.col("_p90_hi")).alias("p90_ok"),
    )


@query(
    "q_agg_histogram",
    oracle=f"""
    SELECT least(floor(o_totalprice / 50000), 9)::BIGINT AS bucket,
           count(*) AS n_orders,
           {sql_dsum('o_totalprice', 'bucket_total')},
           {sql_davg('o_totalprice', 'bucket_avg')}
    FROM orders
    GROUP BY 1
    """,
)
def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram: orders binned by total price into 10
    buckets of 50k with an open top bucket. floor(x/w) on the same IEEE
    division is bit-identical across engines, so the bucket ids cannot
    flap. One hash-aggregate shuffle of (bucket, partials) — the
    classic map-side-combine shape that stays cheap at any scale."""
    o = table(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / 50000), F.lit(9)).cast("bigint")
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "bucket_total"),
            davg("o_totalprice", "bucket_avg"),
        )
    )


@query(
    "q_agg_stats",
    # stddev/corr are NOT computed with the engines' native aggregates
    # (both use online algorithms whose float accumulation order
    # differs); instead: exact decimal sums of x, y, x², y², xy —
    # products taken in DECIMAL(19,4)·DECIMAL(19,4) so they are exact,
    # never a rounded double cast — then the textbook formulas evaluated
    # in IEEE double with identical expression trees on both sides
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             count(*) AS n,
             cast(sum(cast(l_quantity AS DECIMAL(19,4))) AS DOUBLE) AS sx,
             cast(sum(cast(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS sy,
             cast(sum(cast(l_quantity AS DECIMAL(19,4)) * cast(l_quantity AS DECIMAL(19,4))) AS DOUBLE) AS sxx,
             cast(sum(cast(l_extendedprice AS DECIMAL(19,4)) * cast(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS syy,
             cast(sum(cast(l_quantity AS DECIMAL(19,4)) * cast(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           cast(cast(round(cast(cast((sx / n) AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS mean_qty,
           cast(cast(round(cast(cast((sqrt((sxx - sx * sx / n) / (n - 1))) AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS std_qty,
           cast(cast(round(cast(cast((sqrt((syy - sy * sy / n) / (n - 1))) AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS std_price,
           cast(cast(round(cast(cast(((sxy - sx * sy / n) / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))) AS VARCHAR) AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS corr_qty_price
    FROM s
    """,
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution statistics per return flag: mean, sample stddev,
    and Pearson correlation of quantity vs extended price — computed
    from exact decimal power sums so the result is independent of
    accumulation order (the native stddev/corr aggregates are online
    and order-sensitive, hence unverifiable cross-engine). One
    map-side-combinable shuffle of 6 partials per group, any scale."""
    from spark_clustering_spark.functions.detagg import dround

    d154 = "decimal(19,4)"
    li = table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast(d154)
    y = F.col("l_extendedprice").cast(d154)
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return s.select(
        "l_returnflag",
        "n",
        dround(sx / n).alias("mean_qty"),
        dround(F.sqrt((sxx - sx * sx / n) / (n - 1))).alias("std_qty"),
        dround(F.sqrt((syy - sy * sy / n) / (n - 1))).alias("std_price"),
        dround(
            (sxy - sx * sy / n) / F.sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)),
            6,
        ).alias("corr_qty_price"),
    )


MV_CUTOVER = "1999-01-01"  # base snapshot boundary for the incremental MV


@query(
    "q_mv_incremental",
    # the oracle is the FULL recompute -- the whole claim of incremental
    # view maintenance is that merging the base state with the delta
    # state is indistinguishable from recomputing over all the data
    oracle="""
    SELECT o_orderpriority,
           strftime(date_trunc('month', o_orderdate), '%Y-%m') AS mon,
           count(*) AS n_orders,
           cast(cast(round(sum(cast(o_totalprice AS DECIMAL(38,8))), 4) AS VARCHAR) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY 1, 2
    """,
)
def q_mv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: a monthly revenue
    rollup kept as a mergeable aggregate STATE (count + exact
    DECIMAL(38,8) sum per group). The base state is computed once from
    the snapshot before MV_CUTOVER; each refresh aggregates ONLY the
    delta batch and merges states with a second groupBy — never
    touching base facts again. Because the per-group state is exact
    decimal (commutative monoid), merge order cannot change a bit, so
    the merged view hash-matches the full recompute (the oracle).

    Scale: this is THE pattern that makes a 100 TB fact table
    maintainable — the refresh cost is O(delta) + O(|groups|), not
    O(base). On a date-partitioned lake the delta read is partition-
    pruned (q_sink_partitioned proves the pruning); the state table is
    |groups|-sized and the merge shuffles only state rows. AVG/STDDEV
    ride the same algebra as (sum, count, sum-of-squares) partials —
    q_agg_stats already holds the power-sum form."""
    o = table(spark, sf_dir, "orders")
    mon = F.date_format(
        F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM"
    ).alias("mon")
    cut = F.col("o_orderdate") < F.lit(MV_CUTOVER).cast("timestamp")

    def state(df: DataFrame) -> DataFrame:
        return df.groupBy(F.col("o_orderpriority"), mon).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(38,8)")).alias("s"),
        )

    base = state(o.filter(cut))        # computed once, persisted as the MV
    delta = state(o.filter(~cut))      # the only thing a refresh aggregates
    merged = (
        base.unionByName(delta)
        .groupBy("o_orderpriority", "mon")
        .agg(F.sum("n_orders").alias("n_orders"), F.sum("s").alias("s"))
    )
    return merged.select(
        "o_orderpriority",
        "mon",
        "n_orders",
        F.round(F.col("s"), 4).cast("double").alias("total_price"),
    )


KMV_K = 64  # sketch size: k minimum hash values retained per group


def _kmv_oracle() -> str:
    from spark_clustering_spark.functions.porthash import sql_hex_int

    h_int = sql_hex_int("hx", 1, 8)
    return f"""
    WITH du AS (
      SELECT DISTINCT event_type, user_id FROM events
    ),
    hs AS (
      SELECT event_type, user_id,
             md5('kmv' || user_id::VARCHAR) AS hx
      FROM du
    ),
    hv AS (SELECT event_type, user_id, {h_int} AS h FROM hs),
    ranked AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type
               ORDER BY h, user_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n_exact
      FROM hv
    ),
    kth AS (
      SELECT event_type, n_exact, h AS hk FROM ranked WHERE rn = {KMV_K}
    ),
    base AS (SELECT DISTINCT event_type, n_exact FROM ranked)
    SELECT b.event_type, b.n_exact,
           cast(cast(round(cast(cast((
             CASE WHEN k.hk IS NOT NULL
                  THEN ({KMV_K} - 1) * 4294967296.0 / k.hk
                  ELSE cast(b.n_exact AS DOUBLE) END) AS VARCHAR)
                AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS kmv_estimate
    FROM base b LEFT JOIN kth k ON k.event_type = b.event_type
    """


@query("q_agg_kmv_distinct", oracle=_kmv_oracle())
def q_agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per event type via a K-Minimum-Values
    sketch (Bar-Yossef et al. 2002): keep the KMV_K smallest portable
    md5 hashes of the member keys; estimate D ≈ (k−1)/h_(k) with h
    normalized to (0,1). Unlike HLL (q_agg_approx_distinct, whose
    engine-internal sketches force a rows-only check), the KMV sketch
    is defined purely by the portable hash — so the ESTIMATE ITSELF
    hash-matches the DuckDB oracle bit-for-bit. Groups with fewer than
    k members fall back to their exact count (the standard KMV rule).

    Scale: KMV is a bounded mergeable sketch — per partition keep the
    k smallest hashes (a k-sized heap, constant state), merge partials
    by union + re-take-k; the declared window formulation expresses
    the same k-th order statistic declaratively. Exact count emitted
    alongside to make the error measurable."""
    from spark_clustering_spark.functions.porthash import md5_int32

    e = table(spark, sf_dir, "events")
    du = e.select("event_type", "user_id").distinct()
    hv = du.select(
        "event_type",
        "user_id",
        md5_int32(
            F.concat(F.lit("kmv"), F.col("user_id").cast("string"))
        ).alias("h"),
    )
    from pyspark.sql.window import Window

    wr = Window.partitionBy("event_type").orderBy("h", "user_id")
    wc = Window.partitionBy("event_type")
    ranked = hv.select(
        "event_type",
        "h",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n_exact"),
    )
    kth = ranked.filter(F.col("rn") == KMV_K).select(
        "event_type", F.col("h").alias("hk")
    )
    base = ranked.select("event_type", "n_exact").distinct()
    est = F.when(
        F.col("hk").isNotNull(),
        (KMV_K - 1) * F.lit(4294967296.0) / F.col("hk"),
    ).otherwise(F.col("n_exact").cast("double"))
    return base.join(F.broadcast(kth), "event_type", "left").select(
        "event_type", "n_exact", dround(est).alias("kmv_estimate")
    )


CM_WIDTH = 64   # buckets per row
CM_DEPTH = 4    # independent hash rows
CM_PROBES = 20  # user ids the declared query reports estimates for


def _countmin_oracle() -> str:
    from spark_clustering_spark.functions.porthash import sql_hex_int

    h = sql_hex_int("hx", 1, 8)
    rows = " UNION ALL ".join(
        f"SELECT user_id, {i} AS d, md5('cm{i}:' || user_id::VARCHAR) AS hx"
        " FROM ev" for i in range(CM_DEPTH)
    )
    return f"""
    WITH ev AS (SELECT user_id FROM events),
    hpos AS (
      SELECT user_id, d, ({h}) % {CM_WIDTH} AS bucket FROM ({rows}) t
    ),
    counters AS (
      SELECT d, bucket, count(*) AS cnt FROM hpos GROUP BY 1, 2
    ),
    probes AS (
      SELECT DISTINCT user_id, d, bucket FROM hpos
      WHERE user_id < {CM_PROBES}
    ),
    exact AS (
      SELECT user_id, count(*) AS n_exact FROM ev
      WHERE user_id < {CM_PROBES} GROUP BY user_id
    )
    SELECT e.user_id, e.n_exact,
           CAST(min(c.cnt) AS BIGINT) AS cm_estimate
    FROM exact e
    JOIN probes p ON p.user_id = e.user_id
    JOIN counters c ON c.d = p.d AND c.bucket = p.bucket
    GROUP BY e.user_id, e.n_exact
    """


@query("q_agg_countmin", oracle=_countmin_oracle())
def q_agg_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) frequency
    estimates: a {CM_DEPTH}×{CM_WIDTH} counter table over portable md5
    hash rows; each key's estimate is the MIN of its {CM_DEPTH}
    counters (overestimates only, by construction — asserted in
    tests). Like q_agg_kmv_distinct, the portable hash makes the
    ESTIMATE ITSELF hash-verifiable — the sketch-family counterpart
    for per-key frequency rather than set cardinality. Exact counts
    emitted alongside for the probe keys so the error is measurable.

    Scale: the counter table is a fixed {CM_DEPTH * CM_WIDTH}-cell
    aggregate (constant state, trivially mergeable by cell-wise sum —
    the same partial/final split Catalyst already applies); the
    explode is ×{CM_DEPTH} on row-count but carries only (d, bucket)
    ints. Point queries join the constant-size counter table."""
    from spark_clustering_spark.functions.porthash import md5_int32

    e = table(spark, sf_dir, "events")
    hpos = e.select(
        "user_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("d"),
                        (
                            md5_int32(
                                F.concat(
                                    F.lit(f"cm{i}:"),
                                    F.col("user_id").cast("string"),
                                )
                            )
                            % CM_WIDTH
                        ).alias("bucket"),
                    )
                    for i in range(CM_DEPTH)
                ]
            )
        ).alias("p"),
    ).select("user_id", F.col("p.d").alias("d"), F.col("p.bucket").alias("bucket"))
    counters = hpos.groupBy("d", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    probes = hpos.filter(F.col("user_id") < CM_PROBES).distinct()
    exact = (
        e.filter(F.col("user_id") < CM_PROBES)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    return (
        exact.join(probes, "user_id")
        .join(F.broadcast(counters), ["d", "bucket"])
        .groupBy("user_id", "n_exact")
        .agg(F.min("cnt").cast("bigint").alias("cm_estimate"))
    )


SKEW_TOP = 10  # heavy hitters reported by the skew profiler


@query(
    "q_diag_key_skew",
    oracle=f"""
    WITH per_key AS (
      SELECT o_custkey AS key, count(*) AS n_rows
      FROM orders GROUP BY o_custkey
    ),
    stats AS (
      SELECT count(*) AS n_keys, sum(n_rows) AS total,
             max(n_rows) AS max_rows
      FROM per_key
    )
    SELECT row_number() OVER (ORDER BY p.n_rows DESC, p.key)::INT AS rank,
           p.key, p.n_rows,
           cast(cast(round(cast(cast((cast(p.n_rows AS DOUBLE) / s.total)
                AS VARCHAR) AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS share,
           cast(cast(round(cast(cast((cast(p.n_rows AS DOUBLE) * s.n_keys
                / s.total) AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE)
             AS skew_ratio
    FROM per_key p CROSS JOIN stats s
    ORDER BY p.n_rows DESC, p.key LIMIT {SKEW_TOP}
    """,
)
def q_diag_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew profiler: the top-{SKEW_TOP} heavy hitters of a
    candidate join/agg key with each key's share of all rows and its
    skew ratio (observed rows / perfectly-uniform rows). This is the
    diagnostic that decides WHEN the salting / AQE-skew-join machinery
    (q_join_salted) is needed — at 100 TB you profile the key before
    you shuffle on it, not after the straggler appears.

    Scale: one partial+final count per key, a 1-row stats aggregate
    broadcast back, and a TakeOrderedAndProject heap for the top-k —
    no global sort, no data-proportional window."""
    from pyspark.sql.window import Window

    o = table(spark, sf_dir, "orders")
    per_key = o.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    stats = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n_rows").alias("total"),
        F.max("n_rows").alias("max_rows"),
    )
    top = (
        per_key.orderBy(F.col("n_rows").desc(), F.col("key"))
        .limit(SKEW_TOP)
        .crossJoin(F.broadcast(stats))
    )
    w_rank = Window.orderBy(F.col("n_rows").desc(), F.col("key"))
    return top.select(
        F.row_number().over(w_rank).alias("rank"),  # bounded: SKEW_TOP rows
        "key",
        "n_rows",
        dround(F.col("n_rows").cast("double") / F.col("total"), 6).alias(
            "share"
        ),
        dround(
            F.col("n_rows").cast("double") * F.col("n_keys") / F.col("total"), 4
        ).alias("skew_ratio"),
    )


@query(
    "q_dq_constraints",
    oracle="""
    WITH m AS (
      SELECT count(*) AS n_rows,
             count(o_orderkey) AS key_nonnull,
             count(DISTINCT o_orderkey) AS key_distinct,
             sum(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) AS price_pos,
             sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END)
               AS status_valid,
             sum(CASE WHEN o_orderdate >= TIMESTAMP '1992-01-01'
                       AND o_orderdate < TIMESTAMP '1999-01-01'
                      THEN 1 ELSE 0 END) AS date_in_range
      FROM orders
    )
    SELECT c.name AS constraint_name, c.metric::BIGINT AS metric,
           (c.metric = m.n_rows)::INT AS passed
    FROM m, LATERAL (VALUES
      ('complete_o_orderkey', m.key_nonnull),
      ('unique_o_orderkey', m.key_distinct),
      ('positive_o_totalprice', m.price_pos),
      ('valid_o_orderstatus', m.status_valid),
      ('o_orderdate_in_range', m.date_in_range)
    ) c(name, metric)
    """,
)
def q_dq_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint audit (the Deequ/Great-Expectations
    shape): completeness, uniqueness, positivity, domain membership,
    and range checks over the orders table, each reported as
    (constraint, satisfying-row metric, passed). ALL constraints are
    measured in ONE pass — a single partial+final aggregate computes
    every metric simultaneously, which is the only affordable way to
    audit a 100 TB table (five separate scans would quintuple the
    dominant cost). The one-row metric vector then unpivots to the
    per-constraint report driver-side-free via stack().

    Scale: count(DISTINCT key) is the one metric that genuinely needs
    a second shuffle (Spark plans it as a two-phase distinct
    aggregate); everything else rides the same scan."""
    o = table(spark, sf_dir, "orders")
    m = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_orderkey").alias("key_nonnull"),
        F.countDistinct("o_orderkey").alias("key_distinct"),
        F.sum(F.when(F.col("o_totalprice") > 0, 1).otherwise(0)).alias(
            "price_pos"
        ),
        F.sum(
            F.when(F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        ).alias("status_valid"),
        F.sum(
            F.when(
                (F.col("o_orderdate") >= F.lit("1992-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp")),
                1,
            ).otherwise(0)
        ).alias("date_in_range"),
    )
    checks = [
        ("complete_o_orderkey", "key_nonnull"),
        ("unique_o_orderkey", "key_distinct"),
        ("positive_o_totalprice", "price_pos"),
        ("valid_o_orderstatus", "status_valid"),
        ("o_orderdate_in_range", "date_in_range"),
    ]
    stack_args = ", ".join(f"'{n}', {c}" for n, c in checks)
    return m.selectExpr(
        "n_rows",
        f"stack({len(checks)}, {stack_args}) AS (constraint_name, metric)",
    ).select(
        "constraint_name",
        "metric",
        (F.col("metric") == F.col("n_rows")).cast("int").alias("passed"),
    )


def _kmv_overlap_oracle() -> str:
    from spark_clustering_spark.functions.porthash import sql_hex_int

    h = sql_hex_int("md5('kmv' || user_id::VARCHAR)")
    return f"""
    WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
    hv AS (SELECT event_type, user_id, {h} AS h FROM du),
    sk AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY h, user_id) AS rn
      FROM hv
    ),
    s AS (SELECT DISTINCT event_type, h FROM sk WHERE rn <= {KMV_K}),
    uni AS (
      SELECT a.event_type AS ta, b.event_type AS tb, u.h
      FROM (SELECT DISTINCT event_type FROM du) a
      JOIN (SELECT DISTINCT event_type FROM du) b
        ON a.event_type < b.event_type
      JOIN s u ON u.event_type IN (a.event_type, b.event_type)
      GROUP BY 1, 2, u.h
    ),
    uk AS (
      SELECT ta, tb, h,
             row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS rn
      FROM uni
    ),
    topu AS (SELECT ta, tb, h, rn FROM uk WHERE rn <= {KMV_K}),
    hk AS (SELECT ta, tb, max(h) AS hk, count(*) AS ku
           FROM topu GROUP BY 1, 2),
    rho AS (
      SELECT t.ta, t.tb,
             sum(CASE WHEN EXISTS (SELECT 1 FROM s x
                                   WHERE x.event_type = t.ta AND x.h = t.h)
                       AND EXISTS (SELECT 1 FROM s y
                                   WHERE y.event_type = t.tb AND y.h = t.h)
                      THEN 1 ELSE 0 END) AS n_both
      FROM topu t GROUP BY 1, 2
    ),
    sizes AS (SELECT event_type, count(*) AS n FROM du GROUP BY 1),
    inter AS (
      SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS n_inter
      FROM du a JOIN du b ON a.user_id = b.user_id
                         AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT k.ta AS type_a, k.tb AS type_b,
           sa.n AS n_a, sb.n AS n_b,
           coalesce(i.n_inter, 0) AS n_inter_exact,
           cast(cast(round(cast(cast((r.n_both::DOUBLE / k.ku)
                AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE)
             AS jaccard_est,
           cast(cast(round(cast(cast((r.n_both::DOUBLE / k.ku
                * ({KMV_K} - 1) * 4294967296.0 / k.hk)
                AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE)
             AS inter_est
    FROM hk k
    JOIN rho r ON r.ta = k.ta AND r.tb = k.tb
    JOIN sizes sa ON sa.event_type = k.ta
    JOIN sizes sb ON sb.event_type = k.tb
    LEFT JOIN inter i ON i.ta = k.ta AND i.tb = k.tb
    """


@query("q_agg_kmv_overlap", oracle=_kmv_overlap_oracle())
def q_agg_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch SET OPERATIONS: estimate the audience overlap of every
    event-type pair from their KMV sketches alone — union cardinality
    from the k-th smallest hash of the merged sketch, Jaccard from the
    fraction of merged-sketch members present in both sides,
    intersection = jaccard x union (Beyer et al. 2007). This is how
    cross-source overlap is measured at 100 TB: the full id sets never
    meet; only two k-hash sketches (bounded state, mergeable) do. The
    portable md5 hash makes the ESTIMATES themselves bit-replayable in
    DuckDB, and the exact intersection is emitted alongside so the
    sketch error is measurable.

    Scale: per-type sketches are bounded top-k heaps (the same
    mergeable partial/final shape as q_agg_kmv_distinct); the pair
    expansion touches only sketch rows (types x k), never the id
    sets."""
    from pyspark.sql.window import Window

    from spark_clustering_spark.functions.porthash import md5_int32

    e = table(spark, sf_dir, "events")
    du = pin(e.select("event_type", "user_id").distinct())
    hv = du.select(
        "event_type",
        "user_id",
        md5_int32(
            F.concat(F.lit("kmv"), F.col("user_id").cast("string"))
        ).alias("h"),
    )
    wr = Window.partitionBy("event_type").orderBy("h", "user_id")
    # sketch rows: |types| * k, tiny
    s = pin(
        hv.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= KMV_K)
        .select("event_type", "h")
        .distinct()
    )
    types = du.select("event_type").distinct()
    ta = types.select(F.col("event_type").alias("ta"))
    tb = types.select(F.col("event_type").alias("tb"))
    pairs = ta.crossJoin(tb).filter(F.col("ta") < F.col("tb"))
    uni = (
        pairs.join(
            F.broadcast(s),
            (F.col("event_type") == F.col("ta"))
            | (F.col("event_type") == F.col("tb")),
        )
        .select("ta", "tb", "h")
        .distinct()
    )
    wu = Window.partitionBy("ta", "tb").orderBy("h")
    topu = uni.withColumn("rn", F.row_number().over(wu)).filter(
        F.col("rn") <= KMV_K
    )
    hk = topu.groupBy("ta", "tb").agg(
        F.max("h").alias("hk"), F.count(F.lit(1)).alias("ku")
    )
    sa = s.select(F.col("event_type").alias("ta"), F.col("h").alias("h"), F.lit(1).alias("in_a"))
    sb = s.select(F.col("event_type").alias("tb"), F.col("h").alias("h"), F.lit(1).alias("in_b"))
    rho = (
        topu.join(F.broadcast(sa), ["ta", "h"], "left")
        .join(F.broadcast(sb), ["tb", "h"], "left")
        .groupBy("ta", "tb")
        .agg(
            F.sum(
                (F.col("in_a").isNotNull() & F.col("in_b").isNotNull()).cast(
                    "bigint"
                )
            ).alias("n_both")
        )
    )
    sizes = du.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a2 = du.select(F.col("event_type").alias("ta"), "user_id")
    b2 = du.select(F.col("event_type").alias("tb"), "user_id")
    inter = (
        a2.join(b2, "user_id")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = F.col("n_both").cast("double") / F.col("ku")
    d_union = (KMV_K - 1) * F.lit(4294967296.0) / F.col("hk")
    return (
        hk.join(rho, ["ta", "tb"])
        .join(F.broadcast(sizes.select(F.col("event_type").alias("ta"), F.col("n").alias("n_a"))), "ta")
        .join(F.broadcast(sizes.select(F.col("event_type").alias("tb"), F.col("n").alias("n_b"))), "tb")
        .join(inter, ["ta", "tb"], "left")
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            "n_a",
            "n_b",
            F.coalesce("n_inter", F.lit(0)).alias("n_inter_exact"),
            dround(jac).alias("jaccard_est"),
            dround(jac * d_union).alias("inter_est"),
        )
    )


AB_SEED = "exp7"  # experiment salt folded into the assignment hash


def _ab_lift_oracle() -> str:
    from spark_clustering_spark.functions.porthash import sql_hex_int

    h = sql_hex_int(f"md5('{AB_SEED}:' || user_id::VARCHAR)")
    pivot = "cast(cast(round(cast(cast(({x}) AS VARCHAR) AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE)"
    return f"""
    WITH f AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS rn
      FROM events
    ),
    u AS (
      SELECT user_id, ({h}) % 2 AS arm,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS converted
      FROM f WHERE rn = 1
    ),
    s AS (
      SELECT sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_c,
             sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_t,
             sum(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS conv_c,
             sum(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS conv_t
      FROM u
    )
    SELECT n_c::BIGINT AS n_c, n_t::BIGINT AS n_t,
           conv_c::BIGINT AS conv_c, conv_t::BIGINT AS conv_t,
           {pivot.format(x='conv_c::DOUBLE / n_c')} AS rate_c,
           {pivot.format(x='conv_t::DOUBLE / n_t')} AS rate_t,
           {pivot.format(x='(conv_t::DOUBLE / n_t) / nullif(conv_c::DOUBLE / n_c, 0.0) - 1')}
             AS lift,
           {pivot.format(x="(conv_t::DOUBLE / n_t - conv_c::DOUBLE / n_c) / "
                           "nullif(sqrt(((conv_c + conv_t)::DOUBLE / (n_c + n_t)) "
                           "* (1 - (conv_c + conv_t)::DOUBLE / (n_c + n_t)) "
                           "* (1.0 / n_c + 1.0 / n_t)), 0.0)")} AS z_score
    FROM s
    """


@query("q_ab_lift", oracle=_ab_lift_oracle())
def q_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation analytics: hash-randomized A/B assignment
    (portable md5 of '<salt>:<user_id>' mod 2 — the industry-standard
    deterministic bucketing: stable across reruns, no assignment table
    to store or join) and the two-proportion z-test on conversion
    (converted = the user's FIRST event by arrival order is a view — a
    scale-stable ~1-in-5 outcome on this data), with relative lift.
    Every float
    is a deterministic expression over exact integer counts, so the
    whole test statistic hash-matches the oracle.

    Scale: one partial+final aggregate per user then one global
    4-counter reduce — assignment is a projection, never a shuffle or
    a stored mapping; the same salt reproduces the same split on any
    cluster."""
    from spark_clustering_spark.functions.porthash import md5_int32

    from pyspark.sql.window import Window

    e = table(spark, sf_dir, "events")
    w1 = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), "event_id"
    )
    first = (
        e.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type")
    )
    u = first.select(
        "user_id",
        (
            md5_int32(
                F.concat(F.lit(f"{AB_SEED}:"), F.col("user_id").cast("string"))
            )
            % 2
        ).alias("arm"),
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("converted"),
    )
    s = u.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n_c"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n_t"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0)).alias("conv_c"),
        F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0)).alias("conv_t"),
    )
    rate_c = F.col("conv_c").cast("double") / F.col("n_c")
    rate_t = F.col("conv_t").cast("double") / F.col("n_t")
    pool = (F.col("conv_c") + F.col("conv_t")).cast("double") / (
        F.col("n_c") + F.col("n_t")
    )
    # nullif guards mirror the oracle: degenerate splits (a 0% arm or
    # 0/100% pooled rate — tiny slices) yield NULL, never a raise
    z = (rate_t - rate_c) / F.nullif(
        F.sqrt(
            pool * (1 - pool) * (1.0 / F.col("n_c") + 1.0 / F.col("n_t"))
        ),
        F.lit(0.0),
    )
    return s.select(
        "n_c",
        "n_t",
        "conv_c",
        "conv_t",
        dround(rate_c, 6).alias("rate_c"),
        dround(rate_t, 6).alias("rate_t"),
        dround(rate_t / F.nullif(rate_c, F.lit(0.0)) - 1, 6).alias("lift"),
        dround(z, 6).alias("z_score"),
    )


_FK_EDGES = [
    # (edge name, child table, fk col, parent table, pk col)
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
]


def _referential_sql() -> str:
    parts = []
    for name, child, fk, parent, pk in _FK_EDGES:
        parts.append(f"""
    SELECT '{name}' AS edge,
           cast(count(*) AS BIGINT) AS n_child,
           cast(sum(CASE WHEN c.{fk} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_fk,
           cast(sum(CASE WHEN c.{fk} IS NOT NULL AND p.{pk} IS NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
           cast((sum(CASE WHEN c.{fk} IS NOT NULL AND p.{pk} IS NULL
                     THEN 1 ELSE 0 END) = 0) AS INT) AS ref_ok
    FROM {child} c
    LEFT JOIN (SELECT DISTINCT {pk} FROM {parent}) p ON p.{pk} = c.{fk}""")
    return "\n    UNION ALL\n".join(parts)


@query("q_dq_referential", oracle=_referential_sql())
def q_dq_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit of the whole star schema: for every
    foreign-key edge, count child rows, NULL foreign keys, and ORPHANS
    (non-null FKs with no parent) — the companion to q_dq_constraints
    (which audits one table's invariants; this audits the edges
    BETWEEN tables). An orphan count that isn't zero is the first
    thing a warehouse ingest gate checks, because every downstream
    inner join silently drops those rows.

    Shape per edge: child LEFT JOIN distinct-parent-keys, aggregated
    in the same pass — the join IS the membership test, so no second
    scan and no EXISTS subquery per row. Dimension-sized parents
    (nation, region, customer at ratio) broadcast; the lineitem edges
    co-partition on the key like any fact join, and AQE handles the
    rest. Each edge is an independent job — at 100 TB you audit edges
    incrementally per ingest batch, not monolithically.

    Determinism: all outputs are exact integer counts."""
    out = None
    for name, child, fk, parent, pk in _FK_EDGES:
        c = table(spark, sf_dir, child).select(F.col(fk).alias("_fk"))
        p = (
            table(spark, sf_dir, parent)
            .select(F.col(pk).alias("_pk"))
            .distinct()
        )
        joined = c.join(p, c["_fk"] == p["_pk"], "left")
        agg = joined.agg(
            F.count(F.lit(1)).alias("n_child"),
            F.sum(F.when(F.col("_fk").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_null_fk"),
            F.sum(
                F.when(
                    F.col("_fk").isNotNull() & F.col("_pk").isNull(), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_orphans"),
        ).select(
            F.lit(name).alias("edge"),
            F.col("n_child"),
            F.col("n_null_fk"),
            "n_orphans",
            (F.col("n_orphans") == 0).cast("int").alias("ref_ok"),
        )
        out = agg if out is None else out.unionByName(agg)
    return out


WINSOR_LO, WINSOR_HI = 0.05, 0.95


@query(
    "q_agg_winsorize",
    oracle=f"""
    WITH cuts AS (
      SELECT event_type,
             quantile_cont(value, {WINSOR_LO}) AS lo,
             quantile_cont(value, {WINSOR_HI}) AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           cast(count(*) AS BIGINT) AS n,
           cast(sum(CASE WHEN e.value < c.lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_capped_lo,
           cast(sum(CASE WHEN e.value > c.hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_capped_hi,
           {sql_dround(
               "cast(cast(sum(cast(e.value AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)"
               " / count(*)"
           )} AS raw_mean,
           {sql_dround(
               "cast(cast(sum(cast(greatest(least(e.value, c.hi), c.lo)"
               " AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) / count(*)"
           )} AS winsor_mean
    FROM events e JOIN cuts c ON c.event_type = e.event_type
    GROUP BY e.event_type
    """,
)
def q_agg_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (outlier-capped) mean per event type: clamp every
    value into its group's exact [p{int(WINSOR_LO * 100)},
    p{int(WINSOR_HI * 100)}] band, then average — the robust-statistics
    pass that keeps a handful of fat-fingered points from owning a
    metric, reported next to the raw mean and the capped-row counts so
    the damage is visible.

    Two-pass shape: exact per-group percentiles first (group-cardinality
    state — Spark ``percentile`` and DuckDB ``quantile_cont`` are
    bit-identical, the q_agg_percentile envelope), broadcast the cut
    table back, clamp-and-aggregate in one pass with decimal-exact
    sums. At 100 TB swap pass 1 to ``approx_percentile`` (the sketch
    path) and keep pass 2 unchanged — the declared form stays the
    oracle surface.

    Scale: pass 1 is the only value-buffering aggregate; pass 2 is
    map-side combined with the tiny cuts table broadcast. Nothing
    windows; nothing funnels to one reducer."""
    from spark_clustering_spark.io import spread

    e = spread(table(spark, sf_dir, "events").select("event_type", "value"))
    cuts = e.groupBy("event_type").agg(
        F.percentile("value", F.array(F.lit(WINSOR_LO), F.lit(WINSOR_HI))).alias(
            "ps"
        )
    ).select(
        "event_type", F.col("ps")[0].alias("lo"), F.col("ps")[1].alias("hi")
    )
    j = e.join(F.broadcast(cuts), "event_type")
    clamped = F.greatest(F.least(F.col("value"), F.col("hi")), F.col("lo"))
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("value") < F.col("lo"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_capped_lo"),
        F.sum(F.when(F.col("value") > F.col("hi"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_capped_hi"),
        dround(
            F.sum(F.col("value").cast(DEC)).cast("double") / F.count(F.lit(1))
        ).alias("raw_mean"),
        dround(
            F.sum(clamped.cast(DEC)).cast("double") / F.count(F.lit(1))
        ).alias("winsor_mean"),
    )


@query(
    "q_agg_jackknife",
    oracle=f"""
    WITH per_day AS (
      SELECT date_trunc('day', ts) AS day,
             count(*) AS nd,
             sum(cast(value AS DECIMAL(38,8))) AS sd
      FROM events GROUP BY 1
    ),
    tot AS (
      SELECT count(*) AS g,
             sum(nd) AS n,
             sum(sd) AS s
      FROM per_day
    ),
    pseudo AS (
      SELECT cast((t.s - p.sd) AS DOUBLE) / (t.n - p.nd) AS est,
             t.g, cast(t.s AS DOUBLE) / t.n AS full_est
      FROM per_day p CROSS JOIN tot t
    ),
    m AS (
      SELECT g, full_est,
             cast(cast(sum(cast(est AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS se1,
             cast(cast(sum(cast(est * est AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS se2
      FROM pseudo GROUP BY g, full_est
    )
    SELECT cast(g AS BIGINT) AS n_groups,
           {sql_dround("full_est", 6)} AS mean_value,
           {sql_dround(
               "sqrt( (g - 1.0) / g * (se2 - se1 * se1 / g) )", 6
           )} AS jackknife_se
    FROM m
    """,
)
def q_agg_jackknife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-GROUP jackknife standard error for the global mean
    event value, with days as the deletion blocks: recompute the mean
    leaving each day out — cheap, because the leave-one-out estimate
    is just (S − s_d)/(N − n_d) from per-day partials — then SE² =
    (g−1)/g · Σ(est_d − mean(est))². The honest uncertainty for serially
    correlated data (independent-rows bootstrap lies when days are
    internally correlated; blocking by day is the standard fix), and it
    needs only ONE pass over the data.

    Determinism: per-day partials are exact decimal sums; each
    leave-one-out estimate is one double division; the spread
    accumulates in DECIMAL(38,12) and the final sqrt is a single libm
    call on identical doubles.

    Scale: the fact-sized pass is the per-day partial aggregate
    (map-side combined); everything downstream runs on
    days-cardinality rows. This is the delete-a-group-jackknife
    pattern behind production metric pipelines at any scale — the
    blocks just become shards/cookies instead of days."""
    from spark_clustering_spark.io import spread

    e = spread(table(spark, sf_dir, "events").select("ts", "value"))
    per_day = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("nd"),
        F.sum(F.col("value").cast(DEC)).alias("sd"),
    )
    tot = per_day.agg(
        F.count(F.lit(1)).alias("g"),
        F.sum("nd").alias("n"),
        F.sum("sd").alias("s"),
    )
    pseudo = per_day.crossJoin(F.broadcast(tot)).select(
        (
            (F.col("s") - F.col("sd")).cast("double")
            / (F.col("n") - F.col("nd"))
        ).alias("est"),
        "g",
        (F.col("s").cast("double") / F.col("n")).alias("full_est"),
    )
    rdec = "decimal(38,12)"
    # spread of the pseudo-values via the algebraic identity
    # Σ(est−ē)² = Σest² − (Σest)²/g with BOTH sums decimal-exact —
    # no second pass, no order sensitivity (g is tiny: days count)
    agg = pseudo.groupBy("g", "full_est").agg(
        F.sum(F.col("est").cast(rdec)).cast("double").alias("se1"),
        F.sum((F.col("est") * F.col("est")).cast(rdec))
        .cast("double")
        .alias("se2"),
    )
    se = F.sqrt(
        (F.col("g") - 1.0)
        / F.col("g")
        * (F.col("se2") - F.col("se1") * F.col("se1") / F.col("g"))
    )
    return agg.select(
        F.col("g").cast("bigint").alias("n_groups"),
        dround("full_est", 6).alias("mean_value"),
        dround(se, 6).alias("jackknife_se"),
    )


WILSON_Z = 1.96


def _wilson_sql() -> str:
    z2 = f"({WILSON_Z} * {WILSON_Z})"
    p, n = "(cast(k AS DOUBLE) / n)", "n"
    centre = f"({p} + {z2} / (2.0 * {n}))"
    halfw = (
        f"({WILSON_Z} * sqrt({p} * (1.0 - {p}) / {n}"
        f" + {z2} / (4.0 * {n} * {n})))"
    )
    denom = f"(1.0 + {z2} / {n})"
    return f"""
    WITH c AS (
      SELECT p.p_brand,
             count(*) AS n,
             sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS k
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY p.p_brand
    )
    SELECT p_brand, cast(n AS BIGINT) AS n, cast(k AS BIGINT) AS n_returned,
           {sql_dround(p, 6)} AS rate,
           {sql_dround(f"({centre} - {halfw}) / {denom}", 6)} AS wilson_lo,
           {sql_dround(f"({centre} + {halfw}) / {denom}", 6)} AS wilson_hi
    FROM c
    """


@query("q_agg_wilson_ci", oracle=_wilson_sql())
def q_agg_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand return-rate estimate with a 95% WILSON score interval
    — the binomial CI that behaves at the boundaries (a plain normal
    interval goes negative for rare events and degenerates at p̂ ∈
    {{0,1}}; Wilson inverts the score test instead). This is the
    per-segment uncertainty readout a quality dashboard needs before
    ranking segments by a rate — cf. q_ab_lift, which tests a
    DIFFERENCE of rates; this bounds each rate on its own.

    Determinism: the counts are exact integers; centre, half-width and
    denominator are one algebraic expression per group evaluated on
    identical doubles (sqrt is correctly rounded IEEE), emitted
    through dround.

    Scale: one fact scan with a broadcast part join and a
    map-side-combined groupBy(brand); the interval math is free. At
    100 TB nothing changes — this is the canonical cheap-after-
    aggregation statistics shape."""
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_returnflag")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    c = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias(
                "k"
            ),
        )
    )
    z = WILSON_Z
    z2 = z * z
    phat = F.col("k").cast("double") / F.col("n")
    centre = phat + z2 / (2.0 * F.col("n"))
    halfw = z * F.sqrt(
        phat * (1.0 - phat) / F.col("n")
        + z2 / (4.0 * F.col("n") * F.col("n"))
    )
    denom = 1.0 + z2 / F.col("n")
    return c.select(
        "p_brand",
        F.col("n").cast("bigint").alias("n"),
        F.col("k").cast("bigint").alias("n_returned"),
        dround(phat, 6).alias("rate"),
        dround((centre - halfw) / denom, 6).alias("wilson_lo"),
        dround((centre + halfw) / denom, 6).alias("wilson_hi"),
    )


@query(
    "q_agg_welch_ttest",
    oracle="""
    WITH s AS (
      SELECT
        count(*) FILTER (WHERE event_type = 'click') AS n_a,
        count(*) FILTER (WHERE event_type = 'view')  AS n_b,
        sum(cast(value AS DECIMAL(38,8))) FILTER (WHERE event_type = 'click') AS sx_a,
        sum(cast(value AS DECIMAL(38,8))) FILTER (WHERE event_type = 'view')  AS sx_b,
        sum(cast(value * value AS DECIMAL(38,8))) FILTER (WHERE event_type = 'click') AS sxx_a,
        sum(cast(value * value AS DECIMAL(38,8))) FILTER (WHERE event_type = 'view')  AS sxx_b
      FROM events
    ),
    m AS (
      SELECT n_a, n_b,
             cast(cast(sx_a AS VARCHAR) AS DOUBLE) / n_a AS m_a,
             cast(cast(sx_b AS VARCHAR) AS DOUBLE) / n_b AS m_b,
             (cast(cast(sxx_a AS VARCHAR) AS DOUBLE) - cast(cast(sx_a AS VARCHAR) AS DOUBLE) * cast(cast(sx_a AS VARCHAR) AS DOUBLE) / n_a)
               / (n_a - 1) AS v_a,
             (cast(cast(sxx_b AS VARCHAR) AS DOUBLE) - cast(cast(sx_b AS VARCHAR) AS DOUBLE) * cast(cast(sx_b AS VARCHAR) AS DOUBLE) / n_b)
               / (n_b - 1) AS v_b
      FROM s
    ),
    e AS (
      SELECT n_a, n_b, m_a, m_b, v_a, v_b,
             v_a / n_a + v_b / n_b AS se2
      FROM m
    )
    SELECT n_a, n_b,
           cast(cast(round(cast(cast(m_a AS VARCHAR) AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS mean_a,
           cast(cast(round(cast(cast(m_b AS VARCHAR) AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS mean_b,
           cast(cast(round(cast(cast(
             ((m_a - m_b) / sqrt(se2))
             AS VARCHAR) AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS t_stat,
           cast(cast(round(cast(cast(
             ((se2 * se2) / ((v_a / n_a) * (v_a / n_a) / (n_a - 1)
                             + (v_b / n_b) * (v_b / n_b) / (n_b - 1)))
             AS VARCHAR) AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS df_welch
    FROM e
    """,
)
def q_agg_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test comparing event value
    between the 'click' and 'view' arms — the one-pass sufficient-
    statistics shape (n, Σx, Σx²) every experimentation platform runs,
    with the Welch–Satterthwaite degrees of freedom.

    Scale: a single conditional-aggregate pass over the fact table
    (map-side partials, 6-value final state); the moment sums
    accumulate in exact decimal so t and df are partition-order-proof,
    and the closing scalar algebra is an identical double tree in both
    engines."""
    ev = table(spark, sf_dir, "events")
    dec = F.col("value").cast(DEC)
    dec2 = (F.col("value") * F.col("value")).cast(DEC)
    is_a = F.col("event_type") == "click"
    is_b = F.col("event_type") == "view"
    s = ev.agg(
        F.count(F.when(is_a, 1)).alias("n_a"),
        F.count(F.when(is_b, 1)).alias("n_b"),
        F.sum(F.when(is_a, dec)).alias("sx_a"),
        F.sum(F.when(is_b, dec)).alias("sx_b"),
        F.sum(F.when(is_a, dec2)).alias("sxx_a"),
        F.sum(F.when(is_b, dec2)).alias("sxx_b"),
    )
    m = s.select(
        "n_a",
        "n_b",
        (F.col("sx_a").cast("double") / F.col("n_a")).alias("m_a"),
        (F.col("sx_b").cast("double") / F.col("n_b")).alias("m_b"),
        (
            (
                F.col("sxx_a").cast("double")
                - F.col("sx_a").cast("double") * F.col("sx_a").cast("double") / F.col("n_a")
            )
            / (F.col("n_a") - 1)
        ).alias("v_a"),
        (
            (
                F.col("sxx_b").cast("double")
                - F.col("sx_b").cast("double") * F.col("sx_b").cast("double") / F.col("n_b")
            )
            / (F.col("n_b") - 1)
        ).alias("v_b"),
    )
    e = m.withColumn("se2", F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b"))
    return e.select(
        "n_a",
        "n_b",
        dround("m_a", 6).alias("mean_a"),
        dround("m_b", 6).alias("mean_b"),
        dround((F.col("m_a") - F.col("m_b")) / F.sqrt("se2"), 6).alias("t_stat"),
        dround(
            (F.col("se2") * F.col("se2"))
            / (
                (F.col("v_a") / F.col("n_a")) * (F.col("v_a") / F.col("n_a")) / (F.col("n_a") - 1)
                + (F.col("v_b") / F.col("n_b")) * (F.col("v_b") / F.col("n_b")) / (F.col("n_b") - 1)
            ),
            6,
        ).alias("df_welch"),
    )


@query(
    "q_agg_chisq",
    oracle="""
    WITH cells AS (
      SELECT c.c_mktsegment AS seg, o.o_orderpriority AS prio, count(*) AS n
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    rows_ AS (SELECT seg, sum(n) AS rn FROM cells GROUP BY seg),
    cols_ AS (SELECT prio, sum(n) AS cn FROM cells GROUP BY prio),
    tot AS (SELECT sum(n) AS t FROM cells),
    terms AS (
      SELECT c.seg, c.prio, c.n,
             cast(r.rn AS DOUBLE) * c2.cn / t.t AS expected
      FROM cells c
      JOIN rows_ r USING (seg)
      JOIN cols_ c2 USING (prio)
      CROSS JOIN tot t
    ),
    stat AS (
      SELECT sum(cast(
               ((n - expected) * (n - expected) / expected)
               AS DECIMAL(38,8))) AS chi2,
             count(*) AS n_cells
      FROM terms
    )
    SELECT (SELECT count(*) FROM rows_)::INT AS n_segments,
           (SELECT count(*) FROM cols_)::INT AS n_priorities,
           (((SELECT count(*) FROM rows_) - 1)
             * ((SELECT count(*) FROM cols_) - 1))::INT AS df,
           cast(round(chi2, 4) AS DOUBLE) AS chi2
    FROM stat
    """,
)
def q_agg_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-squared test of independence between customer
    market segment and order priority — the categorical counterpart of
    q_agg_welch_ttest: contingency cells in one grouped pass, expected
    counts from broadcast marginals, Σ(O−E)²/E with (r−1)(c−1) df.

    Determinism: each cell's (O−E)²/E is one double from exact integer
    inputs, rounded into DECIMAL(38,8) before the order-ambiguous sum.

    Scale: the fact join aggregates straight down to r×c cells
    (map-side partials); marginals and the total are aggregates of
    that tiny table — nothing data-proportional past the first
    groupBy."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    # r x c rows (~25): pin them so the marginals, total, and the
    # terms join replan from the tiny table, not 6 fact passes
    cells = pin(
        c.join(o, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"), F.col("o_orderpriority").alias("prio"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rows_ = cells.groupBy("seg").agg(F.sum("n").alias("rn"))
    cols_ = cells.groupBy("prio").agg(F.sum("n").alias("cn"))
    tot = cells.agg(F.sum("n").alias("t"))
    expected = F.col("rn").cast("double") * F.col("cn") / F.col("t")
    terms = (
        cells.join(F.broadcast(rows_), "seg")
        .join(F.broadcast(cols_), "prio")
        .crossJoin(F.broadcast(tot))
        .select("seg", "prio", "n", expected.alias("expected"))
    )
    term = (F.col("n") - F.col("expected")) * (F.col("n") - F.col("expected")) / F.col(
        "expected"
    )
    stat = terms.agg(F.sum(term.cast("decimal(38,8)")).alias("chi2"))
    nr = rows_.count()
    nc = cols_.count()
    return stat.select(
        F.lit(nr).cast("int").alias("n_segments"),
        F.lit(nc).cast("int").alias("n_priorities"),
        F.lit((nr - 1) * (nc - 1)).cast("int").alias("df"),
        F.round("chi2", 4).cast("double").alias("chi2"),
    )


@query(
    "q_dq_profile",
    oracle="""
    WITH s AS (
      SELECT count(*) AS n_rows,
             count(*) FILTER (WHERE lang   IS NULL) AS null_lang,
             count(*) FILTER (WHERE source IS NULL) AS null_source,
             count(*) FILTER (WHERE text   IS NULL) AS null_text,
             count(*) FILTER (WHERE n_chars IS NULL) AS null_nchars,
             count(DISTINCT lang)   AS d_lang,
             count(DISTINCT source) AS d_source,
             count(DISTINCT text)   AS d_text,
             count(DISTINCT n_chars) AS d_nchars,
             min(lang) AS min_lang,     max(lang) AS max_lang,
             min(source) AS min_source, max(source) AS max_source,
             min(cast(n_chars AS VARCHAR)) AS min_nchars,
             max(cast(n_chars AS VARCHAR)) AS max_nchars
      FROM documents
    )
    SELECT 'lang' AS col, n_rows, null_lang AS n_null, d_lang AS n_distinct,
           min_lang AS min_s, max_lang AS max_s FROM s
    UNION ALL
    SELECT 'source', n_rows, null_source, d_source, min_source, max_source FROM s
    UNION ALL
    SELECT 'text', n_rows, null_text, d_text, NULL, NULL FROM s
    UNION ALL
    SELECT 'n_chars', n_rows, null_nchars, d_nchars, min_nchars, max_nchars FROM s
    """,
)
def q_dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of the documents table (the ingest-time
    dataset summary every curation pipeline logs): row count, null
    count, exact distinct count, and lexicographic min/max of the
    string form — one row per column, tidy schema. Text min/max are
    suppressed (NULL): a corpus-sized free-text extremum is noise and
    would bloat the profile row.

    Scale: ONE partial+final aggregate computes every metric
    (count-distinct expands via Spark's expand-operator but stays a
    single shuffle of (col-id, value) partials); the 4-row unpivot is
    driver-free projection of the one-row summary, pinned (io.pin) so
    the fact scan runs once, not four times."""
    d = table(spark, sf_dir, "documents")
    nch_s = F.col("n_chars").cast("string")
    s = pin(
        d.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(F.col("lang").isNull(), 1)).alias("null_lang"),
            F.count(F.when(F.col("source").isNull(), 1)).alias("null_source"),
            F.count(F.when(F.col("text").isNull(), 1)).alias("null_text"),
            F.count(F.when(F.col("n_chars").isNull(), 1)).alias("null_nchars"),
            F.countDistinct("lang").alias("d_lang"),
            F.countDistinct("source").alias("d_source"),
            F.countDistinct("text").alias("d_text"),
            F.countDistinct("n_chars").alias("d_nchars"),
            F.min("lang").alias("min_lang"),
            F.max("lang").alias("max_lang"),
            F.min("source").alias("min_source"),
            F.max("source").alias("max_source"),
            F.min(nch_s).alias("min_nchars"),
            F.max(nch_s).alias("max_nchars"),
        )
    )
    rows = [
        ("lang", "null_lang", "d_lang", "min_lang", "max_lang"),
        ("source", "null_source", "d_source", "min_source", "max_source"),
        ("text", "null_text", "d_text", None, None),
        ("n_chars", "null_nchars", "d_nchars", "min_nchars", "max_nchars"),
    ]
    parts = []
    for col, nn, nd, mn, mx in rows:
        parts.append(
            s.select(
                F.lit(col).alias("col"),
                "n_rows",
                F.col(nn).alias("n_null"),
                F.col(nd).alias("n_distinct"),
                (F.col(mn) if mn else F.lit(None).cast("string")).alias("min_s"),
                (F.col(mx) if mx else F.lit(None).cast("string")).alias("max_s"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


# quantile targets as exact rationals (num/den) so the rank arithmetic
# ceil(q*n) = (num*n + den - 1) // den stays in integers on both engines
QUANTILE_TARGETS = ((0.5, 1, 2), (0.9, 9, 10), (0.99, 99, 100))


@query(
    "q_agg_quantiles_scalable",
    oracle=f"""
    WITH o AS (SELECT o_totalprice AS v, o_orderkey AS k FROM orders),
    n AS (SELECT count(*) AS n FROM o),
    r AS (SELECT v, row_number() OVER (ORDER BY v, k) AS rn FROM o),
    q AS (SELECT * FROM (VALUES {', '.join(f'({q}, {num}, {den})' for q, num, den in QUANTILE_TARGETS)})
          t(q, num, den))
    SELECT q.q::DOUBLE AS quantile,
           ((q.num * n.n + q.den - 1) // q.den)::BIGINT AS rank,
           r.v AS value
    FROM q CROSS JOIN n
    JOIN r ON r.rn = (q.num * n.n + q.den - 1) // q.den
    """,
)
def q_agg_quantiles_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global p50/p90/p99 of order value WITHOUT a global sort:
    the type-1 quantile (value at rank ceil(q·n) in (value, key) order)
    selected through the two-pass slice rank machinery
    (``global_running_agg``) — rows bucketed into sorted slices by
    literal cuts, per-slice counts collected (P rows), carry-in offsets
    turn local row_numbers into global ranks, and the three target rows
    filter out. The targets use exact integer arithmetic (num·n+den−1)//den so
    no float ceil can straddle engines.

    This is the scalable counterpart to q_agg_percentile /
    q_agg_approx_percentile: exact answers like the former, but with
    the approx sketch's no-single-reducer plan shape — at 100 TB the
    naive percentile() (one sorted reducer) dies exactly like an
    unpartitioned window, while this plan's widest stage is the range
    exchange."""
    from spark_clustering_spark.operators.windows import global_running_agg

    o = table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("v"), F.col("o_orderkey").alias("k")
    )
    ranked, totals = global_running_agg(
        o, [F.col("v"), F.col("k")], {"rn": ("count", "v")}
    )
    n = int(totals["rn"] or 0)
    parts = []
    for q, num, den in QUANTILE_TARGETS:
        tgt = (num * n + den - 1) // den
        parts.append(
            ranked.filter(F.col("rn") == tgt).select(
                F.lit(q).alias("quantile"),
                F.lit(tgt).cast("bigint").alias("rank"),
                F.col("v").alias("value"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


# Benford's-law expected first-digit shares log10(1 + 1/d), inlined as
# identical 6dp literals in both engines (no runtime libm log10 calls
# whose ulp could straddle the rounding boundary).
BENFORD_EXPECTED = (0.30103, 0.176091, 0.124939, 0.09691, 0.079181,
                    0.066947, 0.057992, 0.051153, 0.045757)


@query(
    "q_dq_benford",
    oracle=f"""
    WITH d AS (
      SELECT substr(cast(o_totalprice AS VARCHAR), 1, 1)::INT AS digit
      FROM orders WHERE o_totalprice > 0
    ),
    c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
    t AS (SELECT sum(n) AS tot FROM c),
    exp_ AS (SELECT * FROM (VALUES {', '.join(f'({d}, {e})' for d, e in enumerate(BENFORD_EXPECTED, 1))})
             e(digit, expected))
    SELECT exp_.digit,
           coalesce(c.n, 0)::BIGINT AS n,
           {sql_dround("coalesce(c.n, 0) / cast(t.tot AS DOUBLE)", 6)}
             AS share,
           exp_.expected::DOUBLE AS expected,
           {sql_dround(
             "abs(coalesce(c.n, 0) / cast(t.tot AS DOUBLE) - exp_.expected)",
             6)} AS abs_dev
    FROM exp_ LEFT JOIN c USING (digit) CROSS JOIN t
    """,
)
def q_dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    fraud / synthetic-data screen: observed first-digit shares next to
    the log10(1+1/d) expectation and the absolute deviation per digit.
    First digits come from the decimal's canonical string (both engines
    render DECIMAL without leading zeros or exponents), not from a
    runtime log10 whose libm ulp could flip a boundary value; the nine
    expected shares are pre-rounded literals for the same reason.

    Scale: one map-side-combined aggregate to ≤9 cells; the total rides
    back as a one-row cross join. The 9-row expectation table is a
    literal — nothing data-proportional passes anything but the first
    hash aggregate."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    c = (
        o.select(
            F.substring(F.col("o_totalprice").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    t = c.agg(F.sum("n").alias("tot"))
    exp_ = spark.createDataFrame(
        [(d, e) for d, e in enumerate(BENFORD_EXPECTED, 1)],
        "digit int, expected double",
    )
    return (
        exp_.join(F.broadcast(c), "digit", "left")
        .crossJoin(F.broadcast(t))
        .select(
            "digit",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
            dround(
                F.coalesce("n", F.lit(0)) / F.col("tot").cast("double"), 6
            ).alias("share"),
            "expected",
            dround(
                F.abs(
                    F.coalesce("n", F.lit(0)) / F.col("tot").cast("double")
                    - F.col("expected")
                ),
                6,
            ).alias("abs_dev"),
        )
    )


@query(
    "q_agg_histogram_log2",
    oracle="""
    WITH cents AS (
      SELECT cast(round(o_totalprice * 100) AS BIGINT) AS c FROM orders
      WHERE o_totalprice > 0
    ),
    b AS (SELECT length(bin(c)) - 1 AS bucket, c FROM cents),
    t AS (SELECT count(*) AS tot FROM cents)
    SELECT bucket::INT AS bucket,
           count(*) AS n,
           min(c) AS min_cents, max(c) AS max_cents,
           cast(cast(round(cast(cast((count(*) / cast(t.tot AS DOUBLE))
                AS VARCHAR) AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS share
    FROM b CROSS JOIN t
    GROUP BY bucket, t.tot
    """,
)
def q_agg_histogram_log2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-2 (log-scale) histogram of order values — the
    heavy-tail profiler that equi-width histograms (q_agg_histogram)
    flatten: bucket = floor(log2(cents)), so each bucket spans a
    doubling. The bucket comes from the INTEGER bit length of the
    exact cent amount (length of the base-2 digit string), never a
    runtime log2 whose libm ulp could flip a value sitting exactly on
    a power of two.

    Scale: one map-side-combined aggregate to ~40 buckets; the total
    rides back as a one-row cross join."""
    cents = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 0)
        .select(
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("c")
        )
    )
    t = cents.agg(F.count(F.lit(1)).alias("tot"))
    b = cents.select(
        (F.length(F.conv(F.col("c"), 10, 2)) - 1).cast("int").alias("bucket"),
        "c",
    )
    return (
        b.crossJoin(F.broadcast(t))
        .groupBy("bucket", "tot")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("c").alias("min_cents"),
            F.max("c").alias("max_cents"),
        )
        .select(
            "bucket",
            "n",
            "min_cents",
            "max_cents",
            dround(F.col("n") / F.col("tot").cast("double"), 6).alias("share"),
        )
    )


IQR_FENCE = 1.5  # Tukey fence multiplier


@query(
    "q_dq_iqr_outliers",
    oracle=f"""
    WITH q AS (
      SELECT quantile_cont(o_totalprice, 0.25) AS q1,
             quantile_cont(o_totalprice, 0.75) AS q3
      FROM orders
    ),
    f AS (
      SELECT q1, q3,
             q1 - {IQR_FENCE} * (q3 - q1) AS lo,
             q3 + {IQR_FENCE} * (q3 - q1) AS hi
      FROM q
    )
    SELECT cast(cast(round(cast(cast((f.q1) AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS q1,
           cast(cast(round(cast(cast((f.q3) AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS q3,
           cast(cast(round(cast(cast((f.lo) AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS fence_lo,
           cast(cast(round(cast(cast((f.hi) AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS fence_hi,
           sum(CASE WHEN o.o_totalprice < f.lo THEN 1 ELSE 0 END)::BIGINT
             AS n_below,
           sum(CASE WHEN o.o_totalprice > f.hi THEN 1 ELSE 0 END)::BIGINT
             AS n_above,
           count(*)::BIGINT AS n_rows
    FROM orders o CROSS JOIN f
    GROUP BY f.q1, f.q3, f.lo, f.hi
    """,
)
def q_dq_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey IQR-fence outlier screen on order totals: exact
    interpolated Q1/Q3, fences at ±1.5·IQR, and the count of rows
    outside each fence — the distribution-free outlier profile every
    ingest gate runs before trusting a numeric column (complements
    q_ts_anomaly_mad's time-indexed robust screen with a static one).

    Determinism: Spark ``percentile`` ≡ DuckDB ``quantile_cont``
    (identical sort + linear interpolation ⇒ bit-identical doubles);
    the fence arithmetic is one fixed-order double expression; counts
    are exact integers against strict inequalities.

    Scale: pass 1 buffers the value multiset for the exact percentile
    pair (one shared array-percentile buffer); pass 2 is a
    map-side-combined count with the fences inlined via a broadcast
    one-row cross join. At 100 TB pass 1 swaps to approx_percentile
    (q_agg_approx_percentile's sketch) with the same tail."""
    o = table(spark, sf_dir, "orders")
    q = o.agg(
        F.percentile(
            "o_totalprice", F.array(F.lit(0.25), F.lit(0.75))
        ).alias("qs")
    ).select(
        F.col("qs")[0].alias("q1"),
        F.col("qs")[1].alias("q3"),
    )
    f = q.select(
        "q1",
        "q3",
        (F.col("q1") - IQR_FENCE * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + IQR_FENCE * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    from spark_clustering_spark.functions.detagg import dround

    return (
        o.crossJoin(F.broadcast(f))
        .groupBy("q1", "q3", "lo", "hi")
        .agg(
            F.sum(
                F.when(F.col("o_totalprice") < F.col("lo"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_below"),
            F.sum(
                F.when(F.col("o_totalprice") > F.col("hi"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_above"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )
        .select(
            dround("q1").alias("q1"),
            dround("q3").alias("q3"),
            dround("lo").alias("fence_lo"),
            dround("hi").alias("fence_hi"),
            "n_below",
            "n_above",
            "n_rows",
        )
    )


@query(
    "q_agg_weighted_median",
    oracle="""
    WITH g AS (
      SELECT l_extendedprice AS v, sum(cast(l_quantity AS BIGINT)) AS w
      FROM lineitem GROUP BY 1
    ),
    r AS (
      SELECT v, sum(w) OVER (ORDER BY v) AS cum,
             (SELECT sum(w) FROM g) AS tot
      FROM g
    )
    SELECT cast(cast(round(cast(cast(
             (min(CASE WHEN 2 * cum >= tot THEN v END))
             AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS w_median,
           cast(max(tot) AS BIGINT) AS total_weight
    FROM r
    """,
)
def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted (lower) median of extended price: the
    smallest value whose cumulative weight reaches half the total —
    the inventory-weighted "typical unit" statistic that plain
    percentile (row-weighted) misstates whenever weights are skewed.

    Determinism: weights are exact integers (quantities are integral),
    so the pick condition 2·cum ≥ total compares exact integers; the
    winning value is one min over identical doubles.

    Scale: the value multiset collapses by groupBy first (map-side
    combine); the cumulative weight over distinct values runs through
    ``global_running_agg`` (literal slice cuts + per-slice carry-in —
    never a single-reducer Window.orderBy), and the exact grand total
    rides back with the same per-slice partials instead of a second
    data-wide pass — the q_window_ntile_scalable machinery serving an
    order statistic."""
    from spark_clustering_spark.functions.detagg import dround
    from spark_clustering_spark.operators.windows import global_running_agg

    li = table(spark, sf_dir, "lineitem")
    g = li.groupBy(F.col("l_extendedprice").alias("v")).agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("w")
    )
    r, totals = global_running_agg(g, [F.col("v")], {"cum": ("sum", F.col("w"))})
    tot = int(totals["cum"])
    return (
        r.filter(2 * F.col("cum") >= F.lit(tot))
        .agg(F.min("v").alias("_m"))
        .select(
            dround("_m").alias("w_median"),
            F.lit(tot).cast("bigint").alias("total_weight"),
        )
    )


@query(
    "q_agg_moments",
    oracle="""
    WITH s AS (
      SELECT l_returnflag, count(*) AS n,
             sum(cast(l_quantity AS BIGINT)) AS s1,
             sum(cast(l_quantity * l_quantity AS BIGINT)) AS s2,
             sum(cast(l_quantity * l_quantity * l_quantity AS BIGINT)) AS s3,
             sum(cast(l_quantity * l_quantity * l_quantity * l_quantity
               AS BIGINT)) AS s4
      FROM lineitem GROUP BY l_returnflag
    ),
    m AS (
      SELECT l_returnflag, n,
             cast(s1 AS DOUBLE) / n AS m1,
             cast(s2 AS DOUBLE) / n AS m2r,
             cast(s3 AS DOUBLE) / n AS m3r,
             cast(s4 AS DOUBLE) / n AS m4r
      FROM s
    ),
    c AS (
      SELECT l_returnflag, n, m1,
             m2r - m1 * m1 AS mu2,
             m3r - 3.0 * m1 * m2r + 2.0 * m1 * m1 * m1 AS mu3,
             m4r - 4.0 * m1 * m3r + 6.0 * m1 * m1 * m2r
                 - 3.0 * m1 * m1 * m1 * m1 AS mu4
      FROM m
    )
    SELECT l_returnflag, n::BIGINT AS n,
           cast(cast(round(cast(cast((m1) AS VARCHAR) AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS mean_qty,
           cast(cast(round(cast(cast((mu3 / (mu2 * sqrt(mu2)))
             AS VARCHAR) AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS skewness,
           cast(cast(round(cast(cast((mu4 / (mu2 * mu2) - 3.0)
             AS VARCHAR) AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS kurtosis_ex
    FROM c
    """,
)
def q_agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher distribution moments per return flag: population
    skewness μ₃/μ₂^1.5 and excess kurtosis μ₄/μ₂² − 3 from raw power
    sums — the shape diagnostics q_agg_stats (mean/stddev/corr) stops
    short of, and the screen that catches heavy-tailed or clipped
    columns whose mean/variance look healthy.

    Determinism: quantities are small exact integers, so Σq..Σq⁴ are
    exact BIGINTs (q⁴ ≤ 6.25e6 — no overflow this side of 1.5e12
    rows/group; DuckDB promotes to HUGEINT regardless); the central-
    moment conversion is one fixed-order double expression per group
    (the native skewness/kurtosis aggregates are online and
    order-sensitive — unverifiable cross-engine, same reason
    q_agg_stats avoids stddev()).

    Scale: ONE map-side-combined shuffle of 5 integer partials per
    group — the textbook moment-sketch shape."""
    from spark_clustering_spark.functions.detagg import dround

    li = table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q.cast("bigint")).alias("s1"),
        F.sum((q * q).cast("bigint")).alias("s2"),
        F.sum((q * q * q).cast("bigint")).alias("s3"),
        F.sum((q * q * q * q).cast("bigint")).alias("s4"),
    )
    n = F.col("n")
    m1 = F.col("s1").cast("double") / n
    m2r = F.col("s2").cast("double") / n
    m3r = F.col("s3").cast("double") / n
    m4r = F.col("s4").cast("double") / n
    m = s.select("l_returnflag", "n", m1.alias("m1"), m2r.alias("m2r"),
                 m3r.alias("m3r"), m4r.alias("m4r"))
    m1, m2r = F.col("m1"), F.col("m2r")
    m3r, m4r = F.col("m3r"), F.col("m4r")
    c = m.select(
        "l_returnflag",
        "n",
        m1.alias("m1"),
        (m2r - m1 * m1).alias("mu2"),
        (m3r - 3.0 * m1 * m2r + 2.0 * m1 * m1 * m1).alias("mu3"),
        (
            m4r
            - 4.0 * m1 * m3r
            + 6.0 * m1 * m1 * m2r
            - 3.0 * m1 * m1 * m1 * m1
        ).alias("mu4"),
    )
    mu2 = F.col("mu2")
    return c.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        dround("m1", 6).alias("mean_qty"),
        dround(F.col("mu3") / (mu2 * F.sqrt(mu2)), 6).alias("skewness"),
        dround(F.col("mu4") / (mu2 * mu2) - 3.0, 6).alias("kurtosis_ex"),
    )


@query(
    "q_ml_psi_drift",
    oracle="""
    WITH cents AS (
      SELECT o_orderkey % 2 AS half,
             length(bin(cast(round(o_totalprice * 100) AS BIGINT))) - 1
               AS bucket
      FROM orders WHERE o_totalprice > 0
    ),
    g AS (
      SELECT bucket,
             sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS ne,
             sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS na
      FROM cents GROUP BY bucket
    ),
    tot AS (SELECT sum(ne) AS te, sum(na) AS ta FROM g),
    terms AS (
      SELECT g.bucket, g.ne, g.na,
             cast(g.ne AS DOUBLE) / t.te AS pe,
             cast(g.na AS DOUBLE) / t.ta AS pa
      FROM g CROSS JOIN tot t
      WHERE g.ne > 0 AND g.na > 0
    ),
    s AS (
      SELECT count(*) AS n_buckets,
             cast(cast(sum(cast(
               (pa - pe) * cast(round(cast(ln(pa / pe) AS DECIMAL(38,12)), 6)
                                AS DECIMAL(38,6)) AS DECIMAL(38,12))
             ) AS VARCHAR) AS DOUBLE) AS psi_raw
      FROM terms
    )
    SELECT n_buckets::BIGINT AS n_buckets, psi_raw,
           cast(cast(round(cast(cast((psi_raw) AS VARCHAR) AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS psi
    FROM s
    """,
)
def q_ml_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index between the even- and odd-orderkey
    halves of the order-value distribution: PSI = Σ_b (p_a − p_e)·
    ln(p_a/p_e) over shared power-of-2 value buckets — the standard
    scoring-feature drift monitor (PSI < 0.1 stable, > 0.25 retrain);
    here the halves are a deterministic A/A split, so the expected
    reading is ≈0 (which is itself the useful audit — a big PSI on an
    A/A split means the BUCKETING is broken, not the data).

    Determinism: buckets come from integer bit length (the
    q_agg_histogram_log2 no-runtime-log2 discipline); bucket counts
    are exact integers; each ln ratio quantizes to a 6-dp DECIMAL
    before the order-ambiguous term sum (the JVM-vs-libm ln ulp rule);
    zero-count buckets on either side drop (the standard PSI
    convention) so ln never sees 0.

    Scale: one map-side-combined aggregate to ~40 buckets; everything
    after is bounded-row arithmetic."""
    from spark_clustering_spark.functions.detagg import dround

    cents = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 0)
        .select(
            (F.col("o_orderkey") % 2).alias("half"),
            (
                F.length(
                    F.conv(
                        F.round(F.col("o_totalprice") * 100, 0).cast(
                            "bigint"
                        ),
                        10,
                        2,
                    )
                )
                - 1
            ).cast("int").alias("bucket"),
        )
    )
    g = cents.groupBy("bucket").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("ne"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("na"),
    )
    tot = g.agg(F.sum("ne").alias("te"), F.sum("na").alias("ta"))
    terms = (
        g.crossJoin(F.broadcast(tot))
        .filter((F.col("ne") > 0) & (F.col("na") > 0))
        .select(
            (F.col("ne").cast("double") / F.col("te")).alias("pe"),
            (F.col("na").cast("double") / F.col("ta")).alias("pa"),
        )
    )
    lnq = (
        F.round(
            F.log(F.col("pa") / F.col("pe")).cast("decimal(38,12)"), 6
        ).cast("decimal(38,6)")
    )
    term = ((F.col("pa") - F.col("pe")) * lnq).cast("decimal(38,12)")
    return terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum(term).cast("double").alias("psi_raw"),
        dround(F.sum(term).cast("double"), 6).alias("psi"),
    )


@query(
    "q_dq_functional_deps",
    oracle="""
    WITH fd1 AS (
      SELECT 'l_orderkey->o_custkey' AS fd,
             count(*) AS n_keys,
             sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS n_violations
      FROM (
        SELECT l.l_orderkey, count(DISTINCT o.o_custkey) AS nd
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY l.l_orderkey)
    ),
    fd2 AS (
      SELECT 'l_partkey->p_brand' AS fd,
             count(*) AS n_keys,
             sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS n_violations
      FROM (
        SELECT l.l_partkey, count(DISTINCT p.p_brand) AS nd
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY l.l_partkey)
    ),
    fd3 AS (
      SELECT 'user_id->event day count stability' AS fd,
             count(*) AS n_keys,
             sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS n_violations
      FROM (
        SELECT user_id, count(DISTINCT event_type) AS nd
        FROM events GROUP BY user_id)
    )
    SELECT fd, n_keys::BIGINT AS n_keys,
           n_violations::BIGINT AS n_violations
    FROM (SELECT * FROM fd1 UNION ALL SELECT * FROM fd2
          UNION ALL SELECT * FROM fd3)
    """,
)
def q_dq_functional_deps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit: for each candidate FD key → value,
    count keys whose value is NOT unique — the schema-invariant check
    that catches silent denormalization drift (an orderkey mapping to
    two custkeys means a corrupt join upstream). The first two FDs
    must hold by construction (0 violations = the audit passes); the
    third (user → single event type) is EXPECTED to fail, proving the
    probe detects real multi-valued dependencies rather than
    vacuously passing.

    Determinism: pure integer distinct counts.

    Scale: each FD is one key-partitioned count-distinct with
    map-side combine (key cardinality rows, never data-wide state);
    the dimension joins broadcast."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    p = table(spark, sf_dir, "part")
    ev = table(spark, sf_dir, "events")

    def audit(df, key, val, name):
        per = df.groupBy(key).agg(F.countDistinct(val).alias("nd"))
        return per.agg(
            F.lit(name).alias("fd"),
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_violations"),
        )

    fd1 = audit(
        li.join(o, li["l_orderkey"] == o["o_orderkey"]),
        "l_orderkey",
        "o_custkey",
        "l_orderkey->o_custkey",
    )
    fd2 = audit(
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"]),
        "l_partkey",
        "p_brand",
        "l_partkey->p_brand",
    )
    fd3 = audit(
        ev,
        "user_id",
        "event_type",
        "user_id->event day count stability",
    )
    return fd1.unionByName(fd2).unionByName(fd3)


def _kmv_merge_oracle() -> str:
    from spark_clustering_spark.functions.porthash import sql_hex_int

    h_int = sql_hex_int("hx", 1, 8)
    est = f"({KMV_K} - 1) * 4294967296.0 / hk"
    return f"""
    WITH du AS (
      SELECT DISTINCT event_type, user_id FROM events
    ),
    hv AS (
      SELECT event_type, user_id, {h_int} AS h FROM (
        SELECT event_type, user_id,
               md5('kmv' || user_id::VARCHAR) AS hx FROM du)
    ),
    shard_sketch AS (
      SELECT event_type, user_id, h FROM (
        SELECT event_type, user_id, h,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY h, user_id) AS rn
        FROM hv) WHERE rn <= {KMV_K}
    ),
    merged_members AS (
      SELECT DISTINCT user_id, h FROM shard_sketch
    ),
    merged_kth AS (
      SELECT max(h) AS hk, count(*) AS nk FROM (
        SELECT h FROM merged_members ORDER BY h, user_id LIMIT {KMV_K})
    ),
    direct_members AS (
      SELECT DISTINCT user_id, h FROM hv
    ),
    direct_kth AS (
      SELECT max(h) AS hk, count(*) AS nk FROM (
        SELECT h FROM direct_members ORDER BY h, user_id LIMIT {KMV_K})
    ),
    stats AS (
      SELECT count(DISTINCT event_type) AS n_shards,
             count(DISTINCT user_id) AS n_exact FROM du
    )
    SELECT s.n_shards, s.n_exact,
           {sql_dround(f"CASE WHEN d.nk >= {KMV_K} THEN ({est.replace('hk', 'd.hk')}) ELSE s.n_exact::DOUBLE END")} AS kmv_direct,
           {sql_dround(f"CASE WHEN m.nk >= {KMV_K} THEN ({est.replace('hk', 'm.hk')}) ELSE s.n_exact::DOUBLE END")} AS kmv_merged,
           (d.hk = m.hk AND d.nk = m.nk) AS merged_equals_direct
    FROM stats s CROSS JOIN direct_kth d CROSS JOIN merged_kth m
    """


@query("q_agg_kmv_shard_merge", oracle=_kmv_merge_oracle())
def q_agg_kmv_shard_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch MERGEABILITY audit — the property that makes
    bounded-state approximate aggregation distributable at all: the
    global K-minimum-values sketch equals the K smallest of the UNION
    of per-shard sketches (any global top-K hash is in its own shard's
    top-K), so per-executor sketches of {KMV_K} hashes merge into the
    exact same global estimate a full-data pass produces. The declared
    query builds both sides — per-event-type (shard) sketches merged,
    and the direct global sketch — and emits both estimates plus the
    equality flag next to the exact distinct count. At 100 TB this IS
    the plan: shards never exchange members, only K-hash sketches.

    Determinism: the sketch is defined purely by the portable md5
    hash (the q_agg_kmv_distinct envelope); both k-th order statistics
    take the same (h, user_id) total order; estimates round through
    the shared decimal pivot.

    Scale: per-shard sketches are K-row windows partitioned by shard;
    both global k-th selections are TakeOrdered bounded heaps over
    (shard-count x K) and distinct-member streams; output is ONE row."""
    from pyspark.sql.window import Window

    from spark_clustering_spark.functions.porthash import md5_int32

    e = table(spark, sf_dir, "events")
    du = e.select("event_type", "user_id").distinct()
    hv = du.select(
        "event_type",
        "user_id",
        md5_int32(
            F.concat(F.lit("kmv"), F.col("user_id").cast("string"))
        ).alias("h"),
    )
    wr = Window.partitionBy("event_type").orderBy("h", "user_id")
    shard_sketch = (
        hv.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= KMV_K)
        .select("user_id", "h")
    )

    def kth_of(members):
        return (
            members.distinct()
            .orderBy("h", "user_id")
            .limit(KMV_K)
            .agg(
                F.max("h").alias("hk"),
                F.count(F.lit(1)).alias("nk"),
            )
        )

    merged = kth_of(shard_sketch).select(
        F.col("hk").alias("m_hk"), F.col("nk").alias("m_nk")
    )
    direct = kth_of(hv.select("user_id", "h")).select(
        F.col("hk").alias("d_hk"), F.col("nk").alias("d_nk")
    )
    stats = du.agg(
        F.countDistinct("event_type").alias("n_shards"),
        F.countDistinct("user_id").alias("n_exact"),
    )

    def est(hk, nk):
        return F.when(
            F.col(nk) >= KMV_K,
            (KMV_K - 1) * F.lit(4294967296.0) / F.col(hk),
        ).otherwise(F.col("n_exact").cast("double"))

    return (
        stats.crossJoin(direct)
        .crossJoin(merged)
        .select(
            "n_shards",
            "n_exact",
            dround(est("d_hk", "d_nk")).alias("kmv_direct"),
            dround(est("m_hk", "m_nk")).alias("kmv_merged"),
            (
                (F.col("d_hk") == F.col("m_hk"))
                & (F.col("d_nk") == F.col("m_nk"))
            ).alias("merged_equals_direct"),
        )
    )
