"""Classic OLAP composite queries — TPC-H-shaped multi-join aggregates.

These exercise the planner end-to-end the way a warehouse workload
does: selective dimension filters, multi-way join ordering, large-side
aggregation — the shapes where Catalyst's join reordering, broadcast
selection, and partial aggregation pay for themselves together.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_clustering_spark.functions.detagg import dround, dsum, sql_dround, sql_dsum
from spark_clustering_spark.io import spread, table
from spark_clustering_spark.operators.windows import global_running_agg, ntile_scalable
from spark_clustering_spark.registry import query


@query(
    "q_olap_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')},
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    """,
)
def q_olap_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: revenue of not-yet-shipped orders for one market
    segment — selective dim filter, 3-way join, grouped revenue."""
    c = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select("l_orderkey", "revenue", "order_date", "o_orderpriority")
    )


@query(
    "q_olap_local_supplier_volume",
    oracle=f"""
    SELECT n.n_name,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')},
           count(*) AS n_lines
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1999-01-01'
    GROUP BY n.n_name
    """,
)
def q_olap_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue from orders where customer and supplier
    share a nation — 6-way join with a correlated equi-condition; the
    three dimension tables broadcast, the fact chain shuffles once."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(s),
            (s.s_suppkey == li.l_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .groupBy("n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q_olap_returned_items",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)', 'lost_revenue')},
           count(*) AS n_returned
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    """,
)
def q_olap_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returned items per customer in
    one order-date year — fact-fact equi-join chain with a selective
    line-level predicate, small dims broadcast. The returnflag filter
    reaches the lineitem scan (PushedFilters), so only ~25% of lines
    leave the parquet reader."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    return (
        c.join(o, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "lost_revenue"
            ),
            F.count(F.lit(1)).alias("n_returned"),
        )
    )


@query(
    "q_olap_large_orders",
    oracle=f"""
    WITH big AS (
      SELECT l_orderkey, {sql_dsum('l_quantity', 'total_qty')}
      FROM lineitem
      GROUP BY l_orderkey
      HAVING sum(l_quantity) > 200.5
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
           {sql_dround('o.o_totalprice')} AS total_price,
           b.total_qty
    FROM big b
    JOIN orders o   ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def q_olap_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers whose orders exceed a total-quantity
    threshold — aggregate-then-join (the HAVING prunes before any wide
    join runs). Quantities are integer-valued, so sum(double) is exact
    and the 200.5 cut cannot flap between engines; the emitted total
    still goes through decimal accumulation per repo convention."""
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            dsum("l_quantity", "total_qty"),
            F.sum("l_quantity").alias("_raw_qty"),
        )
        .filter(F.col("_raw_qty") > 200.5)
        .drop("_raw_qty")
    )
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return (
        big.join(o, o.o_orderkey == big.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            dround("o_totalprice").alias("total_price"),
            "total_qty",
        )
    )


@query(
    "q_olap_promo_revenue",
    oracle=f"""
    SELECT strftime(l.l_shipdate, '%Y-%m') AS ship_month,
           {sql_dround("100 * cast(cast(sum(CASE WHEN p.p_type = 'ECONOMY' THEN cast(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,8)) ELSE cast(0 AS DECIMAL(38,8)) END) AS VARCHAR) AS DOUBLE) / cast(cast(sum(cast(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)")} AS economy_share_pct,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)', 'total_revenue')}
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1
    """,
)
def q_olap_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: monthly share of revenue from one part type —
    a conditional-aggregate ratio over a fact⋈dim join (dim broadcast).
    Both sums accumulate in exact DECIMAL(38,8) so the double division
    is bit-identical cross-engine (functions/detagg.py)."""
    from spark_clustering_spark.functions.detagg import DEC

    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    zero = F.lit(0).cast(DEC)
    promo = F.sum(F.when(F.col("p_type") == "ECONOMY", rev).otherwise(zero))
    total = F.sum(rev)
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            dround(
                F.lit(100) * promo.cast("double") / total.cast("double")
            ).alias("economy_share_pct"),
            F.round(total, 4).cast("double").alias("total_revenue"),
        )
    )


@query(
    "q_olap_min_cost_supplier",
    oracle="""
    SELECT p.p_partkey, p.p_brand, s.s_name, l.l_extendedprice AS min_price
    FROM part p
    JOIN lineitem l ON l.l_partkey = p.p_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    WHERE p.p_size = 25
      AND l.l_extendedprice = (
        SELECT min(l2.l_extendedprice) FROM lineitem l2
        WHERE l2.l_partkey = p.p_partkey
      )
    """,
)
def q_olap_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (adapted — no partsupp table in this schema):
    for each size-25 part, the supplier(s) of its cheapest shipped
    line. Declared through spark.sql with a correlated scalar subquery
    so Catalyst's decorrelation rewrites it into the min-aggregate join
    — the planner path a warehouse relies on for Q2/Q17/Q20.

    Scale: the subquery decorrelates to groupBy(l_partkey).min joined
    back on partkey — one shuffle of a narrow (key, min) side, never a
    per-row re-scan."""
    table(spark, sf_dir, "part").createOrReplaceTempView("v_part")
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    table(spark, sf_dir, "supplier").createOrReplaceTempView("v_supplier")
    return spark.sql(
        """
        SELECT p.p_partkey, p.p_brand, s.s_name,
               l.l_extendedprice AS min_price
        FROM v_part p
        JOIN v_lineitem l ON l.l_partkey = p.p_partkey
        JOIN v_supplier s ON s.s_suppkey = l.l_suppkey
        WHERE p.p_size = 25
          AND l.l_extendedprice = (
            SELECT min(l2.l_extendedprice) FROM v_lineitem l2
            WHERE l2.l_partkey = p.p_partkey
          )
        """
    )


@query(
    "q_olap_dormant_customers",
    oracle="""
    SELECT c.c_custkey, c.c_name, c.c_mktsegment, c.c_acctbal
    FROM customer c
    WHERE c.c_acctbal > (
        SELECT cast(cast(avg(cast(c2.c_acctbal AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)
        FROM customer c2
      )
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '1998-11-01'
      )
    """,
)
def q_olap_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no recent
    orders — an uncorrelated scalar subquery (global average, exact
    decimal accumulation so the threshold can't flip cross-engine)
    plus a NOT EXISTS anti-join.

    Scale: the scalar average is a 1-row broadcast; the anti-join
    shuffles only (custkey) pairs of the filtered recent-orders slice."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name, c.c_mktsegment, c.c_acctbal
        FROM v_customer c
        WHERE c.c_acctbal > (
            SELECT cast(avg(cast(c2.c_acctbal AS DECIMAL(38,8))) AS DOUBLE)
            FROM v_customer c2
          )
          AND NOT EXISTS (
            SELECT 1 FROM v_orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderdate >= TIMESTAMP '1998-11-01'
          )
        """
    )


@query(
    "q_olap_disjunctive",
    oracle=f"""
    SELECT {sql_dsum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')},
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#11' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 25)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity >= 10 AND l.l_quantity <= 40)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity >= 20 AND l.l_quantity <= 50)
    """,
)
def q_olap_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under three OR-ed brand/size/quantity
    clauses. Exercises disjunctive predicate handling — Catalyst keeps
    the common join key (partkey) as the equi-condition and evaluates
    the OR as a residual filter, so there is still exactly one
    broadcast join and no cross product; each disjunct's part-side
    conjuncts also push into the dim scan as an OR filter."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    clause = (
        (
            (F.col("p_brand") == "Brand#11")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 25)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 40)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 50)
        )
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .filter(clause)
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q_olap_priority_check",
    oracle="""
    SELECT o.o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-07-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o.o_orderpriority
    """,
)
def q_olap_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders per priority that had at least one line
    shipped more than 60 days after ordering — a correlated EXISTS
    whose predicate references BOTH sides (l_shipdate vs o_orderdate),
    so it cannot be pushed to either scan alone. Catalyst rewrites it
    to a left-semi join on orderkey with the date comparison as the
    join residual.

    Scale: semi-join output is at most one row per order, so the
    aggregate input is bounded by the (filtered) orders side; only
    (orderkey, shipdate) leaves the lineitem scan."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (li.l_orderkey == o.o_orderkey)
            & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "q_olap_cust_distribution",
    oracle="""
    SELECT n_orders, count(*) AS n_customers
    FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY n_orders
    """,
)
def q_olap_cust_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: the distribution of per-customer order counts
    (excluding urgent orders), zero-order customers included — a left
    join whose non-equi conjunct must stay in the JOIN clause (in WHERE
    it would silently drop the NULL-extended rows), then a two-level
    aggregate (count per customer, histogram over counts).

    Scale: first aggregate shuffles on custkey (same key as the join,
    so AQE coalesces into one exchange); the second input is one row
    per customer and the histogram fits in a hand."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@query(
    "q_olap_parts_supplier",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM part p
    JOIN lineitem l ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#45'
      AND p.p_type NOT LIKE 'MEDIUM%'
      AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q_olap_parts_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers can ship each
    qualifying part profile, excluding a denylisted supplier set (the
    NOT IN subquery) — negated dim predicates + anti-join + distinct
    aggregation.

    Scale: the denylist is tiny (broadcast anti-join); the distinct
    count shuffles the deduplicated (brand, type, size, suppkey)
    quadruple — Catalyst plans the two-phase distinct expand, and the
    part dim broadcasts into the fact scan."""
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & (~F.col("p_type").like("MEDIUM%"))
        & (F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
    )
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bad = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q_olap_small_qty_revenue",
    oracle=f"""
    SELECT {sql_dsum('l.l_extendedprice', 'lost_revenue')},
           count(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23'
      AND l.l_quantity < (
        SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey
      )
    """,
)
def q_olap_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from lines whose quantity is below 20%
    of the part's average quantity — a correlated AVG scalar subquery.
    Declared through spark.sql so Catalyst decorrelates it into a
    groupBy(partkey).avg joined back on partkey (one narrow shuffle),
    never a per-row re-scan.

    The threshold is double-exact cross-engine: quantities are
    integer-valued doubles, so sum and count are exact and
    0.2 * (sum/count) is the same two IEEE ops in both engines."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    table(spark, sf_dir, "part").createOrReplaceTempView("v_part")
    from spark_clustering_spark.functions.detagg import sql_dsum as _sds

    return spark.sql(
        f"""
        SELECT {_sds('l.l_extendedprice', 'lost_revenue')},
               count(*) AS n_lines
        FROM v_lineitem l
        JOIN v_part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#23'
          AND l.l_quantity < (
            SELECT 0.2 * avg(l2.l_quantity) FROM v_lineitem l2
            WHERE l2.l_partkey = l.l_partkey
          )
        """
    )


@query(
    "q_olap_waiting_supplier",
    oracle="""
    SELECT s.s_name, count(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
    JOIN orders o    ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R'
      )
    GROUP BY s.s_name
    """,
)
def q_olap_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted to this schema: returnflag plays the
    receipt-delay role): suppliers who were the SOLE returner on a
    finished multi-supplier order — a correlated EXISTS and a
    correlated NOT EXISTS against the same fact table, both on
    non-key conjuncts. Catalyst turns them into a left-semi and a
    left-anti self-join on orderkey with the suppkey inequality as the
    residual.

    Scale: both self-joins key on orderkey — the same key the fact
    table already shuffled on for the orders join, so AQE reuses one
    exchange; only (orderkey, suppkey, returnflag) columns move."""
    table(spark, sf_dir, "supplier").createOrReplaceTempView("v_supplier")
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT s.s_name, count(*) AS numwait
        FROM v_supplier s
        JOIN v_lineitem l1 ON l1.l_suppkey = s.s_suppkey
        JOIN v_orders o    ON o.o_orderkey = l1.l_orderkey
        WHERE o.o_orderstatus = 'F'
          AND l1.l_returnflag = 'R'
          AND EXISTS (
            SELECT 1 FROM v_lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
            SELECT 1 FROM v_lineitem l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_returnflag = 'R'
          )
        GROUP BY s.s_name
        """
    )


@query(
    "q_olap_nation_trade",
    oracle=f"""
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS ship_year,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')}
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
    JOIN nation nc  ON nc.n_nationkey = c.c_nationkey
    WHERE ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
        OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1999-01-01'
    GROUP BY 1, 2, 3
    """,
)
def q_olap_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by
    ship year — the supplier- and customer-side nation dims both join
    (broadcast) against the fact chain, with a disjunctive cross-pair
    filter that Catalyst pushes into the two tiny nation scans."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    ns = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    nc = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(ns), F.col("ns_key") == F.col("s_nationkey"))
        .join(F.broadcast(nc), F.col("nc_key") == F.col("c_nationkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


@query(
    "q_olap_market_share",
    oracle=f"""
    SELECT o_year,
           {sql_dround("100 * cast(cast(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev ELSE cast(0 AS DECIMAL(38,8)) END) AS VARCHAR) AS DOUBLE) / cast(sum(rev) AS DOUBLE)")} AS mkt_share_pct
    FROM (
      SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
             cast(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,8)) AS rev,
             ns.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation nc  ON nc.n_nationkey = c.c_nationkey
      JOIN region r   ON r.r_regionkey = nc.n_regionkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
      JOIN part p     ON p.p_partkey = l.l_partkey
      WHERE r.r_name = 'ASIA'
        AND p.p_type = 'PROMO'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate <  TIMESTAMP '1999-01-01'
    )
    GROUP BY o_year
    """,
)
def q_olap_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of PROMO-part revenue sold
    into a region, by order year — a conditional-sum ratio over a
    7-table join where every dimension broadcasts and only the
    lineitem⋈orders⋈customer chain shuffles. Both sums accumulate in
    DECIMAL(38,8) so the double division is cross-engine stable."""
    from spark_clustering_spark.functions.detagg import DEC

    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nc = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_regionkey").alias("nc_region")
    )
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    ns = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    zero = F.lit(0).cast(DEC)
    nat = F.sum(F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(zero))
    total = F.sum(rev)
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nc), F.col("nc_key") == F.col("c_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("nc_region"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(ns), F.col("ns_key") == F.col("s_nationkey"))
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            dround(
                F.lit(100) * nat.cast("double") / total.cast("double")
            ).alias("mkt_share_pct")
        )
    )


@query(
    "q_olap_product_profit",
    oracle=f"""
    SELECT ns.n_name AS supp_nation,
           CAST(year(l.l_shipdate) AS INT) AS ship_year,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount) - p.p_retailprice * l.l_quantity', 'profit')}
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
)
def q_olap_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (adapted — no partsupp, so p_retailprice·quantity
    stands in for supply cost): profit on one product family by
    supplier nation and ship year. The LIKE filter prunes the part dim
    before it broadcasts; profit accumulates in exact decimal."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    ns = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(ns), F.col("ns_key") == F.col("s_nationkey"))
        .groupBy(
            "supp_nation", F.year("l_shipdate").cast("int").alias("ship_year")
        )
        .agg(dsum(profit, "profit"))
    )


@query(
    "q_olap_important_parts",
    oracle=f"""
    SELECT l.l_partkey,
           {sql_dsum('l.l_extendedprice * l.l_quantity', 'supply_value')}
    FROM lineitem l
    GROUP BY l.l_partkey
    HAVING sum(cast(l.l_extendedprice * l.l_quantity AS DECIMAL(38,8)))
         > 0.0002 * (SELECT sum(cast(l2.l_extendedprice * l2.l_quantity AS DECIMAL(38,8)))
                     FROM lineitem l2)
    """,
)
def q_olap_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (adapted — shipped value stands in for partsupp
    stock value): parts whose total shipped value exceeds a fixed
    fraction of the global total. The global total is an uncorrelated
    scalar subquery (1-row broadcast); the HAVING threshold compares
    EXACT decimal sums on both sides, so the cut cannot flip between
    engines on a float ulp.

    Scale: two aggregates over the same shuffle key layout + a scalar
    broadcast — no per-group rescan of the fact table."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        SELECT l.l_partkey,
               CAST(round(sum(CAST(l.l_extendedprice * l.l_quantity AS DECIMAL(38,8))), 4) AS DOUBLE) AS supply_value
        FROM v_lineitem l
        GROUP BY l.l_partkey
        HAVING sum(CAST(l.l_extendedprice * l.l_quantity AS DECIMAL(38,8)))
             > CAST(0.0002 AS DECIMAL(38,8)) * (SELECT sum(CAST(l2.l_extendedprice * l2.l_quantity AS DECIMAL(38,8)))
                         FROM v_lineitem l2)
        """
    )


@query(
    "q_olap_priority_shipping",
    oracle="""
    SELECT l.l_linestatus,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l.l_linestatus
    """,
)
def q_olap_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted — line status stands in for ship mode,
    which this schema lacks): high- vs low-priority order line counts
    per status for one ship year. A pure conditional-count pivot over
    the fact⋈orders join."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q_olap_top_supplier",
    oracle=f"""
    WITH srev AS (
      SELECT l.l_suppkey,
             sum(cast(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,8))) AS rev
      FROM lineitem l
      WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
        AND l.l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l.l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           cast(round(srev.rev, 4) AS DOUBLE) AS total_revenue
    FROM srev JOIN supplier s ON s.s_suppkey = srev.l_suppkey
    WHERE srev.rev = (SELECT max(rev) FROM srev)
    """,
)
def q_olap_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with maximum revenue in one
    quarter. The revenue CTE aggregates once; the max is an
    uncorrelated scalar subquery over that tiny aggregate, and the
    equality compares EXACT decimals (ties kept, like the reference
    view formulation).

    Scale: one fact shuffle keyed on suppkey; everything after is
    supplier-cardinality."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    table(spark, sf_dir, "supplier").createOrReplaceTempView("v_supplier")
    return spark.sql(
        """
        WITH srev AS (
          SELECT l.l_suppkey,
                 sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,8))) AS rev
          FROM v_lineitem l
          WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
            AND l.l_shipdate <  TIMESTAMP '1997-04-01'
          GROUP BY l.l_suppkey
        )
        SELECT s.s_suppkey, s.s_name,
               CAST(round(srev.rev, 4) AS DOUBLE) AS total_revenue
        FROM srev JOIN v_supplier s ON s.s_suppkey = srev.l_suppkey
        WHERE srev.rev = (SELECT max(rev) FROM srev)
        """
    )


@query(
    "q_olap_volume_suppliers",
    oracle="""
    SELECT s.s_suppkey, s.s_name, n.n_name,
           cast(sum(l.l_quantity) AS DOUBLE) AS red_qty
    FROM supplier s
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN lineitem l ON l.l_suppkey = s.s_suppkey
    JOIN part p     ON p.p_partkey = l.l_partkey
    WHERE p.p_name LIKE 'red %'
      AND l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY s.s_suppkey, s.s_name, n.n_name
    HAVING sum(l.l_quantity) > 100
    """,
)
def q_olap_volume_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (adapted — shipped quantity stands in for
    partsupp availability): suppliers who moved over 100 units of
    red-named parts in a year, with their nation. The part dim prunes
    via LIKE before broadcasting; quantity sums are integral doubles so
    the HAVING cut is exact in both engines."""
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("red %"))
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy("s_suppkey", "s_name", "n_name")
        .agg(F.sum("l_quantity").cast("double").alias("red_qty"))
        .filter(F.col("red_qty") > 100)
    )


@query(
    "q_olap_forecast_revenue",
    oracle=f"""
    SELECT {sql_dsum('l.l_extendedprice * l.l_discount', 'revenue_delta')},
           count(*) AS n_lines
    FROM lineitem l
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
      AND l.l_discount BETWEEN 0.05 AND 0.07
      AND l.l_quantity < 24
    """,
)
def q_olap_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: revenue delta from discount changes — a
    single-table scan whose entire predicate set (date range, discount
    band, quantity cap) pushes to the parquet scan, followed by one
    global decimal-exact aggregate. The canonical pushdown/pruning
    benchmark: at 100 TB this reads only the matching row groups of
    three columns plus the two aggregated ones."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue_delta"),
        F.count(F.lit(1)).alias("n_lines"),
    )


BASKET_TOP = 50  # co-occurrence pairs emitted


@query(
    "q_olap_basket_affinity",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n_orders AS (SELECT count(DISTINCT l_orderkey) AS n FROM items),
    supp AS (
      SELECT l_partkey, count(*) AS s FROM items GROUP BY l_partkey
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             count(*) AS together
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT p.part_a, p.part_b, p.together,
           cast(cast(round(cast(cast((
             (cast(p.together AS DOUBLE) * t.n)
               / (cast(sa.s AS DOUBLE) * sb.s)
           ) AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS lift
    FROM pairs p
    JOIN supp sa ON sa.l_partkey = p.part_a
    JOIN supp sb ON sb.l_partkey = p.part_b
    CROSS JOIN n_orders t
    ORDER BY p.together DESC, p.part_a, p.part_b
    LIMIT {BASKET_TOP}
    """,
)
def q_olap_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: the top-{BASKET_TOP} part pairs
    co-occurring in the same order, with lift = P(a,b)/(P(a)·P(b)) —
    the association-rule analytic behind "frequently bought together"
    (Agrawal & Srikant 1994's support/lift core, pair-order only).

    Determinism: co-occurrence and support counts are integers; lift
    is one double expression; top-{BASKET_TOP} orders by
    (together DESC, part_a, part_b) — fully tie-broken.

    Scale: pair expansion is per-basket C(b,2), bounded by basket
    size (TPC-H ≤ 7 lines) — the same density-bounded in-bucket
    expansion as the LSH pair stage; supports and the order count are
    vocabulary-sized broadcasts; the top-k is a TakeOrdered, not a
    global sort. Skewed mega-baskets cap via per-basket item limits
    in a real pipeline (documented, not needed on this schema)."""
    li = table(spark, sf_dir, "lineitem")
    # keyed spread(): the distinct's post-shuffle layout AQE-coalesces
    # to 1-2 partitions at bench SF, serializing the C(b,2) pair
    # expansion and its partial count. Hash-partitioning on l_orderkey
    # satisfies the distinct's clustering (no extra exchange) AND
    # co-partitions both self-join sides (guide §2.4/§6).
    items = spread(li.select("l_orderkey", "l_partkey"), "l_orderkey").distinct()
    n = items.select("l_orderkey").distinct().count()
    supp = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("s"))
    a = items.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("together"))
    )
    sa = supp.select(F.col("l_partkey").alias("part_a"), F.col("s").alias("sa"))
    sb = supp.select(F.col("l_partkey").alias("part_b"), F.col("s").alias("sb"))
    lift = (F.col("together").cast("double") * F.lit(n)) / (
        F.col("sa").cast("double") * F.col("sb")
    )
    return (
        pairs.join(F.broadcast(sa), "part_a")
        .join(F.broadcast(sb), "part_b")
        .select("part_a", "part_b", "together", dround(lift).alias("lift"))
        .orderBy(F.desc("together"), "part_a", "part_b")
        .limit(BASKET_TOP)
    )


@query(
    "q_olap_abc_pareto",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             cast(cast(round(sum(cast(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(38,8))), 4) AS VARCHAR) AS DOUBLE) AS revenue
      FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
      SELECT l_partkey, revenue,
             cast(cast(sum(cast(revenue AS DECIMAL(38,8))) OVER (
               ORDER BY revenue DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
               AS cum,
             cast(cast(sum(cast(revenue AS DECIMAL(38,8))) OVER () AS VARCHAR) AS DOUBLE)
               AS total
      FROM rev
    )
    SELECT l_partkey, revenue,
           cast(cast(round(cast(cast((cum / total) AS VARCHAR)
                AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS cum_share,
           CASE WHEN cum / total <= 0.8 THEN 'A'
                WHEN cum / total <= 0.95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked
    """,
)
def q_olap_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification: parts ranked by revenue, running
    revenue share, class A up to 80% of total, B to 95%, C beyond —
    the 80/20 inventory-prioritization analytic. The per-part revenue
    is an exact-decimal sum ROUNDED FIRST, then both the cumulative
    sum and the grand total re-accumulate it as DECIMAL(38,8) —
    exact in any order in both engines — before a deterministic
    double division, so the class-boundary compares cannot flip.

    Scale: the per-part aggregate reduces the fact table to part
    cardinality before any window; the global ordered cumulative sum
    is served by ``global_running_agg`` (literal slice cuts +
    per-slice carry-in — no single-reducer window), and the grand
    total is the driver-combined exact decimal of the same per-slice
    partials, riding as a literal instead of a second data-wide
    window."""
    from spark_clustering_spark.operators.windows import global_running_agg

    li = table(spark, sf_dir, "lineitem")
    rev = (
        li.groupBy("l_partkey")
        .agg(
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ).cast("decimal(38,8)")
                ),
                4,
            )
            .cast("double")
            .alias("revenue")
        )
    )
    ranked, totals = global_running_agg(
        rev,
        [F.col("revenue").desc(), F.col("l_partkey")],
        {"cum": ("sum", F.col("revenue").cast("decimal(38,8)"))},
    )
    total = totals["cum"]  # exact Decimal grand total (None iff no rows)
    share = F.col("cum").cast("double") / F.lit(total).cast(
        "decimal(38,8)"
    ).cast("double")
    return ranked.select(
        "l_partkey",
        "revenue",
        dround(share, 6).alias("cum_share"),
        F.when(share <= 0.8, F.lit("A"))
        .when(share <= 0.95, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )


@query(
    "q_olap_mom_growth",
    oracle=f"""
    WITH m AS (
      SELECT (year(o_orderdate) * 12 + month(o_orderdate)) AS ym,
             year(o_orderdate)::INT AS yr,
             month(o_orderdate)::INT AS mo,
             {sql_dsum('o_totalprice', 'revenue')}
      FROM orders GROUP BY 1, 2, 3
    )
    SELECT c.yr, c.mo, c.revenue,
           {sql_dround('(c.revenue - p.revenue) / p.revenue', 6)} AS mom_growth
    FROM m c LEFT JOIN m p ON p.ym = c.ym - 1
    """,
)
def q_olap_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth — the trend KPI every OLAP
    deck leads with. The monthly rollup is an exact-decimal sum; the
    previous month attaches via a broadcast self-join on a contiguous
    year*12+month key (NULL growth for the first month / after a gap)
    rather than an ordered window, so the month series — bounded by
    wall-clock coverage, not data — never even needs one.

    Scale: one partial+final aggregate to month cardinality; both join
    sides are that bounded series (broadcast); nothing
    data-proportional passes a window or a single reducer."""
    o = table(spark, sf_dir, "orders")
    m = (
        o.groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("ym"),
            F.year("o_orderdate").cast("int").alias("yr"),
            F.month("o_orderdate").cast("int").alias("mo"),
        )
        .agg(dsum("o_totalprice", "revenue"))
    )
    prev = m.select((F.col("ym") + 1).alias("ym"), F.col("revenue").alias("prev_rev"))
    return m.join(F.broadcast(prev), "ym", "left").select(
        "yr",
        "mo",
        "revenue",
        dround(
            (F.col("revenue") - F.col("prev_rev")) / F.col("prev_rev"), 6
        ).alias("mom_growth"),
    )


@query(
    "q_olap_price_elasticity",
    oracle=f"""
    WITH pts AS (
      SELECT p.p_brand,
             ln(l.l_extendedprice / l.l_quantity) AS x,
             ln(cast(l.l_quantity AS DOUBLE)) AS y
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE l.l_quantity > 0 AND l.l_extendedprice > 0
    ),
    s AS (
      SELECT p_brand,
             count(*) AS n,
             sum(cast(x AS DECIMAL(38,8))) AS sx,
             sum(cast(y AS DECIMAL(38,8))) AS sy,
             sum(cast(x * y AS DECIMAL(38,8))) AS sxy,
             sum(cast(x * x AS DECIMAL(38,8))) AS sxx
      FROM pts GROUP BY p_brand
    )
    SELECT p_brand, cast(n AS BIGINT) AS n,
           {sql_dround(
               "(n * cast(cast(sxy AS VARCHAR) AS DOUBLE) - cast(cast(sx AS VARCHAR) AS DOUBLE) * cast(cast(sy AS VARCHAR) AS DOUBLE))"
               " / (n * cast(cast(sxx AS VARCHAR) AS DOUBLE) - cast(cast(sx AS VARCHAR) AS DOUBLE) * cast(cast(sx AS VARCHAR) AS DOUBLE))"
           )} AS elasticity,
           {sql_dround(
               "(cast(cast(sy AS VARCHAR) AS DOUBLE) - ((n * cast(cast(sxy AS VARCHAR) AS DOUBLE)"
               " - cast(cast(sx AS VARCHAR) AS DOUBLE) * cast(cast(sy AS VARCHAR) AS DOUBLE))"
               " / (n * cast(cast(sxx AS VARCHAR) AS DOUBLE) - cast(cast(sx AS VARCHAR) AS DOUBLE)"
               " * cast(cast(sx AS VARCHAR) AS DOUBLE))) * cast(cast(sx AS VARCHAR) AS DOUBLE)) / n"
           )} AS intercept
    FROM s
    """,
)
def q_olap_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand price elasticity of demand by IN-ENGINE grouped OLS:
    regress ln(quantity) on ln(unit price) within each brand and emit
    the fitted slope (the elasticity) and intercept. The "grouped
    linear model as a single aggregation" pattern — no per-group
    collect, no MLlib round trip: every sufficient statistic (n, Σx,
    Σy, Σxy, Σx²) is one partial+final aggregate, so a million groups
    cost the same shape as ten.

    Determinism: each point's ln(·) and products are single double
    expressions on identical inputs (libm envelope); the five
    sufficient statistics accumulate in exact DECIMAL(38,8); the
    slope/intercept arithmetic runs once per group on identical
    doubles and goes through dround.

    Scale: one fact scan, one broadcast dimension join (part), one
    map-side-combined groupBy(brand). Adding regressors = adding
    decimal sum columns (the normal-equations generalization) — still
    one pass. The classic reason to do stats IN the warehouse."""
    # spread() before the ln math: a compacted input's one-task scan
    # otherwise serializes the broadcast join, both ln(·) computations
    # and the 5-decimal-sum partial aggregate (guide §6).
    li = spread(
        table(spark, sf_dir, "lineitem")
        .filter((F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0))
        .select("l_partkey", "l_quantity", "l_extendedprice")
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    x = F.log(F.col("l_extendedprice") / F.col("l_quantity"))
    y = F.log(F.col("l_quantity").cast("double"))
    from spark_clustering_spark.functions.detagg import DEC

    pts = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"]).select(
        "p_brand", x.alias("x"), y.alias("y")
    )
    s = pts.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(DEC)).alias("sx"),
        F.sum(F.col("y").cast(DEC)).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(DEC)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(DEC)).alias("sxx"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    return s.select(
        "p_brand",
        n.cast("bigint").alias("n"),
        dround(slope).alias("elasticity"),
        dround(intercept).alias("intercept"),
    )


@query(
    "q_olap_cohort_revenue",
    oracle=f"""
    WITH fo AS (
      SELECT o_custkey,
             min(date_part('year', o_orderdate) * 12
                 + date_part('month', o_orderdate)) AS cohort_m
      FROM orders GROUP BY o_custkey
    ),
    w AS (
      SELECT f.cohort_m,
             (date_part('year', o.o_orderdate) * 12
              + date_part('month', o.o_orderdate)) - f.cohort_m AS offs,
             o.o_custkey, o.o_totalprice
      FROM orders o JOIN fo f ON f.o_custkey = o.o_custkey
    )
    SELECT cast(cohort_m // 12 AS BIGINT) AS cohort_year,
           cast(cohort_m % 12 + 1 AS BIGINT) AS cohort_month,
           cast(offs AS BIGINT) AS month_offset,
           cast(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           {sql_dsum("o_totalprice", "revenue")}
    FROM w
    GROUP BY cohort_m, offs
    """,
)
def q_olap_cohort_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort revenue matrix: customers are grouped by their FIRST
    order month (the cohort), and every later order lands in the
    (cohort, months-since-first) cell with its revenue and active-
    customer count — the standard LTV/retention triangle every growth
    dashboard is built on.

    Month arithmetic stays in exact integers (year·12 + month), never
    date-diff floats; cohort attribution is an integer min per
    customer.

    Scale: the cohort table is customer-cardinality (one min
    aggregate); joining it back to orders is a plain key join that
    co-partitions on o_custkey — at 100 TB both sides bucket by
    custkey and the join is shuffle-free. The distinct-count per cell
    is the only heavy aggregate; partial aggregation handles it
    (per-cell distinct customers ≪ rows)."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_totalprice",
        (
            F.year("o_orderdate") * 12 + F.month("o_orderdate")
        ).alias("m"),
    )
    fo = o.groupBy("o_custkey").agg(F.min("m").alias("cohort_m"))
    w = o.join(fo, "o_custkey").select(
        "cohort_m",
        (F.col("m") - F.col("cohort_m")).alias("offs"),
        "o_custkey",
        "o_totalprice",
    )
    return (
        w.groupBy("cohort_m", "offs")
        .agg(
            F.countDistinct("o_custkey").cast("bigint").alias("n_customers"),
            dsum("o_totalprice", "revenue"),
        )
        .select(
            F.floor(F.col("cohort_m") / 12).cast("bigint").alias("cohort_year"),
            (F.col("cohort_m") % 12 + 1).cast("bigint").alias("cohort_month"),
            F.col("offs").cast("bigint").alias("month_offset"),
            "n_customers",
            "revenue",
        )
    )


@query(
    "q_olap_rfm",
    oracle="""
    WITH m AS (
      SELECT o_custkey,
             date_diff('day', max(o_orderdate), TIMESTAMP '1998-12-31')::INT
               AS rec_days,
             count(*) AS freq,
             sum(cast(o_totalprice AS DECIMAL(38,8))) AS mon
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey AS c_custkey,
           rec_days, freq,
           cast(round(mon, 4) AS DOUBLE) AS monetary,
           ntile(5) OVER (ORDER BY rec_days, o_custkey) ::INT AS r_tile,
           ntile(5) OVER (ORDER BY freq DESC, o_custkey) ::INT AS f_tile,
           ntile(5) OVER (ORDER BY mon DESC, o_custkey) ::INT AS m_tile,
           (ntile(5) OVER (ORDER BY rec_days, o_custkey) * 100
            + ntile(5) OVER (ORDER BY freq DESC, o_custkey) * 10
            + ntile(5) OVER (ORDER BY mon DESC, o_custkey)) ::INT AS rfm_code
    FROM m
    """,
)
def q_olap_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — recency (days since last order at a
    fixed anchor), frequency (order count), monetary (exact-decimal
    revenue), each cut into exact global quintiles and combined into
    the classic 3-digit RFM code (111 = best, 555 = worst).

    Scale: the base aggregate is one fact pass down to customer
    cardinality; the three quintile cuts CHAIN through
    ``ntile_scalable`` (literal slice cuts + per-slice rank offsets) —
    never a partition-less ``ntile() OVER ()`` single reducer. The
    monetary sort key is the exact DECIMAL(38,8) sum, so tile
    boundaries cannot flap with accumulation order."""
    o = table(spark, sf_dir, "orders")
    m = o.groupBy("o_custkey").agg(
        F.datediff(
            F.lit("1998-12-31").cast("date"), F.max("o_orderdate").cast("date")
        )
        .cast("int")
        .alias("rec_days"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.col("o_totalprice").cast("decimal(38,8)")).alias("mon"),
    )
    t = ntile_scalable(m, [F.col("rec_days"), F.col("o_custkey")], 5, out_col="r_tile")
    t = ntile_scalable(
        t, [F.col("freq").desc(), F.col("o_custkey")], 5, out_col="f_tile"
    )
    t = ntile_scalable(
        t, [F.col("mon").desc(), F.col("o_custkey")], 5, out_col="m_tile"
    )
    return t.select(
        F.col("o_custkey").alias("c_custkey"),
        "rec_days",
        "freq",
        F.round("mon", 4).cast("double").alias("monetary"),
        "r_tile",
        "f_tile",
        "m_tile",
        (F.col("r_tile") * 100 + F.col("f_tile") * 10 + F.col("m_tile"))
        .cast("int")
        .alias("rfm_code"),
    )


@query(
    "q_olap_gini",
    oracle="""
    WITH x AS (
      SELECT o_custkey, sum(cast(o_totalprice AS DECIMAL(38,8))) AS mon
      FROM orders GROUP BY o_custkey
    ),
    r AS (
      SELECT mon, row_number() OVER (ORDER BY mon, o_custkey) AS grank
      FROM x
    ),
    s AS (
      SELECT count(*) AS n,
             sum(mon) AS tot,
             sum(grank * mon) AS wtot
      FROM r
    )
    SELECT n AS n_customers,
           cast(round(tot, 4) AS DOUBLE) AS total_revenue,
           cast(cast(round(cast(cast(
             (2.0 * cast(wtot AS DOUBLE) / (cast(n AS DOUBLE) * cast(tot AS DOUBLE))
              - (cast(n AS DOUBLE) + 1.0) / cast(n AS DOUBLE))
             AS VARCHAR) AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS gini
    FROM s
    """,
)
def q_olap_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration —
    G = 2·Σᵢ i·xᵢ / (n·Σxᵢ) − (n+1)/n over revenues sorted ascending.

    The global rank i comes from ``global_running_agg``'s two-pass
    slice count (carry-in + local row_number), NOT a
    partition-less window — ranking n customers never funnels through
    one reducer. Both Σxᵢ and the rank-weighted Σ i·xᵢ accumulate in
    exact decimal (rank is an exact BIGINT weight), so the statistic
    is independent of partitioning; the final Gini expression is one
    identical double tree in both engines."""
    o = table(spark, sf_dir, "orders")
    x = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,8)")).alias("mon")
    )
    ranked, _ = global_running_agg(
        x, [F.col("mon"), F.col("o_custkey")], {"grank": ("count", None)}
    )
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("mon").alias("tot"),
        F.sum(F.col("grank") * F.col("mon")).alias("wtot"),
    )
    n_d = F.col("n").cast("double")
    gini = (
        F.lit(2.0) * F.col("wtot").cast("double") / (n_d * F.col("tot").cast("double"))
        - (n_d + F.lit(1.0)) / n_d
    )
    return s.select(
        F.col("n").alias("n_customers"),
        F.round("tot", 4).cast("double").alias("total_revenue"),
        dround(gini, 6).alias("gini"),
    )


@query(
    "q_olap_survival",
    oracle="""
    WITH seq AS (
      SELECT o_custkey, o_orderdate,
             lead(o_orderdate) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey) AS nxt
      FROM orders
    ),
    dur AS (
      SELECT date_diff('day', o_orderdate, nxt)::INT AS t, 1 AS obs
      FROM seq WHERE nxt IS NOT NULL
      UNION ALL
      SELECT date_diff('day', max(o_orderdate), TIMESTAMP '1998-12-31')::INT AS t,
             0 AS obs
      FROM orders GROUP BY o_custkey
    ),
    at_t AS (
      SELECT t, count(*) AS m, sum(obs) AS d
      FROM dur GROUP BY t
    ),
    risk AS (
      SELECT t, m, d,
             (SELECT count(*) FROM dur)
               - coalesce(sum(m) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM at_t
    ),
    km AS (
      SELECT t, d, n_risk,
             sum(CASE WHEN d < n_risk AND d > 0
                 THEN ln(1.0 - cast(d AS DOUBLE) / n_risk) ELSE 0.0 END)
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS lnS,
             sum(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS n_zero
      FROM risk
    )
    SELECT t AS t_days, n_risk::BIGINT AS n_risk, d::BIGINT AS d_events,
           CASE WHEN n_zero > 0 THEN 0.0 ELSE
             cast(cast(round(cast(cast(exp(lnS) AS VARCHAR) AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) END AS survival
    FROM km
    WHERE d > 0
    """,
)
def q_olap_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve of customer inter-purchase time:
    consecutive order gaps are observed events, the gap from each
    customer's last order to the 1998-12-31 anchor is right-censored.
    S(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ) over event times, the standard
    churn / repeat-purchase-latency estimator.

    Determinism: the cumulative Σ ln(1 − dᵢ/nᵢ) runs over a window
    ORDER BY t — a pinned sequential fold, identical accumulation in
    both engines (the q_window_running argument); each ln term is one
    double from exact integer inputs. A terminal time where the whole
    risk set fails (d = n) would make the product exactly 0 — handled
    by a zero-counter, never ln(0) (Spark yields NULL there, DuckDB
    -inf).

    Scale: durations are fact-cardinality, but the KM table aggregates
    to DISTINCT DAY-GAP cardinality (bounded by the date span, ≤ a few
    thousand rows regardless of data size) before any ordered window —
    the same bounded-series argument as q_ts_gapfill. The risk-set
    count composes from per-t counts, not a data-wide sort."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_custkey",
        "o_orderdate",
        F.lead("o_orderdate").over(w).alias("nxt"),
    )
    gaps = seq.filter(F.col("nxt").isNotNull()).select(
        F.datediff(F.col("nxt").cast("date"), F.col("o_orderdate").cast("date"))
        .cast("int")
        .alias("t"),
        F.lit(1).alias("obs"),
    )
    censor = (
        o.groupBy("o_custkey")
        .agg(F.max("o_orderdate").alias("last_d"))
        .select(
            F.datediff(F.lit("1998-12-31").cast("date"), F.col("last_d").cast("date"))
            .cast("int")
            .alias("t"),
            F.lit(0).alias("obs"),
        )
    )
    dur = gaps.unionAll(censor)
    at_t = dur.groupBy("t").agg(
        F.count(F.lit(1)).alias("m"), F.sum("obs").alias("d")
    )
    total = dur.agg(F.count(F.lit(1)).alias("n_total"))
    wt = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    wc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    risk = at_t.crossJoin(F.broadcast(total)).select(
        "t",
        "m",
        "d",
        (
            F.col("n_total")
            - F.coalesce(F.sum("m").over(wt), F.lit(0))
        ).alias("n_risk"),
    )
    ln_term = F.when(
        (F.col("d") < F.col("n_risk")) & (F.col("d") > 0),
        F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk")),
    ).otherwise(F.lit(0.0))
    km = risk.select(
        "t",
        "d",
        "n_risk",
        F.sum(ln_term).over(wc).alias("lnS"),
        F.sum(F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0))
        .over(wc)
        .alias("n_zero"),
    )
    return km.filter(F.col("d") > 0).select(
        F.col("t").alias("t_days"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d").cast("bigint").alias("d_events"),
        F.when(F.col("n_zero") > 0, F.lit(0.0))
        .otherwise(dround(F.exp("lnS"), 6))
        .alias("survival"),
    )


@query(
    "q_olap_repeat_rate",
    oracle="""
    WITH om AS (
      SELECT o_custkey,
             (year(o_orderdate) * 12 + month(o_orderdate) - 1) AS m
      FROM orders
    ),
    fst AS (SELECT o_custkey, min(m) AS first_m FROM om GROUP BY o_custkey),
    act AS (
      SELECT om.m, om.o_custkey, min(fst.first_m) AS first_m,
             count(*) AS n_orders
      FROM om JOIN fst USING (o_custkey)
      GROUP BY om.m, om.o_custkey
    )
    SELECT (m // 12)::INT AS year, (m % 12 + 1)::INT AS month,
           count(*) AS n_active,
           sum(CASE WHEN first_m = m THEN 1 ELSE 0 END)::BIGINT AS n_new,
           sum(CASE WHEN first_m < m THEN 1 ELSE 0 END)::BIGINT AS n_repeat,
           sum(n_orders)::BIGINT AS n_orders,
           cast(cast(round(cast(cast(
             (cast(sum(CASE WHEN first_m < m THEN 1 ELSE 0 END) AS DOUBLE)
              / count(*)) AS VARCHAR) AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE)
             AS repeat_share
    FROM act
    GROUP BY m
    """,
)
def q_olap_repeat_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning customer mix per calendar month: active
    customers split by whether the month is their first-ever order
    month — the retention headline every subscription/commerce
    dashboard leads with (repeat_share = returning / active).

    Scale: integer month arithmetic; both aggregates key on customer
    (the first-order table is customer-cardinality and joins
    co-partitioned on o_custkey before the month rollup) — no window,
    no date dimension scan."""
    o = table(spark, sf_dir, "orders")
    om = o.select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("m"),
    )
    fst = om.groupBy("o_custkey").agg(F.min("m").alias("first_m"))
    act = (
        om.join(fst, "o_custkey")
        .groupBy("m", "o_custkey")
        .agg(F.min("first_m").alias("first_m"), F.count(F.lit(1)).alias("n_orders"))
    )
    new_flag = F.when(F.col("first_m") == F.col("m"), 1).otherwise(0)
    rep_flag = F.when(F.col("first_m") < F.col("m"), 1).otherwise(0)
    return act.groupBy("m").agg(
        F.count(F.lit(1)).alias("n_active"),
        F.sum(new_flag).cast("bigint").alias("n_new"),
        F.sum(rep_flag).cast("bigint").alias("n_repeat"),
        F.sum("n_orders").cast("bigint").alias("n_orders"),
        dround(F.sum(rep_flag).cast("double") / F.count(F.lit(1)), 6).alias(
            "repeat_share"
        ),
    ).select(
        F.floor(F.col("m") / 12).cast("int").alias("year"),
        (F.col("m") % 12 + 1).cast("int").alias("month"),
        "n_active",
        "n_new",
        "n_repeat",
        "n_orders",
        "repeat_share",
    )


MIGRATION_SPLIT = "1998-04-01"  # period boundary (orders span 1995..2001)


@query(
    "q_olap_customer_migration",
    oracle=f"""
    WITH pa AS (
      SELECT o_custkey, sum(cast(o_totalprice AS DECIMAL(38,8))) AS mon
      FROM orders WHERE o_orderdate < TIMESTAMP '{MIGRATION_SPLIT}'
      GROUP BY o_custkey
    ),
    pb AS (
      SELECT o_custkey, sum(cast(o_totalprice AS DECIMAL(38,8))) AS mon
      FROM orders WHERE o_orderdate >= TIMESTAMP '{MIGRATION_SPLIT}'
      GROUP BY o_custkey
    ),
    ta AS (
      SELECT o_custkey,
             ntile(5) OVER (ORDER BY mon DESC, o_custkey)::INT AS tile_a
      FROM pa
    ),
    tb AS (
      SELECT o_custkey,
             ntile(5) OVER (ORDER BY mon DESC, o_custkey)::INT AS tile_b
      FROM pb
    ),
    m AS (SELECT tile_a, tile_b FROM ta JOIN tb USING (o_custkey)),
    c AS (SELECT tile_a, tile_b, count(*) AS n_customers
          FROM m GROUP BY tile_a, tile_b),
    rt AS (SELECT tile_a, sum(n_customers) AS row_n FROM c GROUP BY tile_a)
    SELECT c.tile_a, c.tile_b, c.n_customers,
           {sql_dround("c.n_customers / cast(rt.row_n AS DOUBLE)", 6)}
             AS row_share
    FROM c JOIN rt USING (tile_a)
    """,
)
def q_olap_customer_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer segment migration: monetary quintile in the early
    period vs the late period (split at {MIGRATION_SPLIT}), as the
    5×5 transition matrix with within-row shares — the
    did-my-best-customers-stay / churn-risk matrix every retention
    team tracks (the time-axis companion to q_olap_rfm's snapshot).
    Only customers active in BOTH periods transition (inner join);
    diagonal mass = segment stability.

    Scale: two customer-cardinality aggregates off partition-prunable
    date filters; each period's quintile cut goes through
    ``ntile_scalable`` (literal slice cuts + per-slice rank offsets —
    the same no-partition-less-window discipline as q_olap_rfm, vs
    the oracle's single-reducer ntile() OVER ()); the transition join
    is custkey-keyed and the matrix collapses to ≤25 cells."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderdate"
    )
    split = F.lit(MIGRATION_SPLIT).cast("timestamp")

    def tiles(period_df, out_col):
        m = period_df.groupBy("o_custkey").agg(
            F.sum(F.col("o_totalprice").cast("decimal(38,8)")).alias("mon")
        )
        t = ntile_scalable(
            m, [F.col("mon").desc(), F.col("o_custkey")], 5, out_col=out_col
        )
        return t.select("o_custkey", out_col)

    ta = tiles(o.filter(F.col("o_orderdate") < split), "tile_a")
    tb = tiles(o.filter(F.col("o_orderdate") >= split), "tile_b")
    c = (
        ta.join(tb, "o_custkey")
        .groupBy("tile_a", "tile_b")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    rt = c.groupBy("tile_a").agg(F.sum("n_customers").alias("row_n"))
    return c.join(F.broadcast(rt), "tile_a").select(
        "tile_a",
        "tile_b",
        "n_customers",
        dround(
            F.col("n_customers") / F.col("row_n").cast("double"), 6
        ).alias("row_share"),
    )


@query(
    "q_olap_skyline",
    oracle=f"""
    WITH x AS (
      SELECT o_custkey,
             count(*) AS freq,
             sum(cast(o_totalprice AS DECIMAL(38,8))) AS mon
      FROM orders GROUP BY o_custkey
    ),
    p AS (
      SELECT freq, mon, count(*) AS n_customers,
             min(o_custkey) AS min_custkey
      FROM x GROUP BY freq, mon
    ),
    sky AS (
      -- windowed skyline, equivalent to the NOT-EXISTS form but
      -- O(n log n): p is dominated iff  max(mon | freq' > freq) >= mon
      -- (strictly-higher frequency, at-least-equal monetary)  OR
      -- max(mon | freq' = freq) > mon (same frequency, strictly more
      -- monetary; p's rows are distinct (freq,mon) so equality within
      -- the freq group means p itself). The NOT-EXISTS form is a
      -- quadratic anti-join (~2e12 probes at sf10's ~1.5M points).
      SELECT freq, mon, n_customers, min_custkey FROM (
        SELECT p.*,
               max(mon) OVER (
                 ORDER BY freq
                 RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
               ) AS max_mon_higher,
               max(mon) OVER (PARTITION BY freq) AS max_mon_same
        FROM p
      )
      WHERE (max_mon_higher IS NULL OR max_mon_higher < mon)
        AND max_mon_same = mon
    )
    SELECT freq::BIGINT AS freq,
           cast(round(mon, 4) AS DOUBLE) AS monetary,
           n_customers, min_custkey
    FROM sky
    """,
)
def q_olap_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline) of customers in (order count, exact
    revenue) space: the (freq, mon) pairs no other pair dominates —
    the multi-criteria "best customers" query that no single score
    captures. The oracle states the semantics as the literal
    quadratic NOT EXISTS dominance test; the engine computes the SAME
    frontier linearly: in (freq DESC, mon DESC) order over distinct
    pairs, a pair is on the frontier iff its mon strictly raises the
    running maximum — served by ``global_running_agg``'s
    slice + carry-in machinery, so no single-reducer sort
    and no quadratic pair join ever materializes.

    The candidate filter (mon == inclusive running max) can keep a
    later equal-mon pair that an earlier higher-freq pair dominates;
    the ≤|frontier|-sized groupBy(mon) keep-max-freq pass removes
    exactly those — both steps are data-proportional-safe."""
    x = table(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.col("o_totalprice").cast("decimal(38,8)")).alias("mon"),
    )
    p = x.groupBy("freq", "mon").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.min("o_custkey").alias("min_custkey"),
    )
    ranked, _tot = global_running_agg(
        p,
        [F.col("freq").desc(), F.col("mon").desc()],
        {"rmax": ("max", "mon")},
    )
    cand = ranked.filter(F.col("mon") == F.col("rmax"))
    best = cand.groupBy("mon").agg(F.max("freq").alias("freq"))
    return (
        cand.join(best, ["mon", "freq"])
        .select(
            F.col("freq").cast("bigint").alias("freq"),
            F.round("mon", 4).cast("double").alias("monetary"),
            "n_customers",
            "min_custkey",
        )
    )


@query(
    "q_olap_supplier_hhi",
    oracle=f"""
    WITH rev AS (
      SELECT s.s_nationkey, l.l_suppkey,
             sum(cast(l.l_extendedprice AS DECIMAL(38,8))) AS r
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY 1, 2
    ),
    nat AS (
      SELECT s_nationkey, sum(r) AS tot, count(*) AS n_suppliers,
             max(r) AS top_r
      FROM rev GROUP BY s_nationkey
    ),
    sh AS (
      SELECT rev.s_nationkey,
             cast(
               (cast(rev.r AS DOUBLE) / cast(nat.tot AS DOUBLE))
               * (cast(rev.r AS DOUBLE) / cast(nat.tot AS DOUBLE))
               AS DECIMAL(38,12)) AS s2
      FROM rev JOIN nat USING (s_nationkey)
    )
    SELECT n.n_name AS nation,
           nat.n_suppliers::BIGINT AS n_suppliers,
           {sql_dround("cast(hhi.h AS DOUBLE)", 6)} AS hhi,
           {sql_dround(
             "cast(nat.top_r AS DOUBLE) / cast(nat.tot AS DOUBLE)", 6)}
             AS top_share
    FROM (SELECT s_nationkey, sum(s2) AS h FROM sh GROUP BY s_nationkey) hhi
    JOIN nat USING (s_nationkey)
    JOIN nation n ON n.n_nationkey = hhi.s_nationkey
    """,
)
def q_olap_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier concentration per nation: the Herfindahl–Hirschman
    index Σ share² of supplier revenue (1/n = perfect competition,
    1.0 = monopoly) plus the single largest share — the supply-chain
    risk metric procurement teams track per market.

    Determinism: supplier revenues are exact decimal sums; each
    squared share quantizes to DECIMAL(38,12) before the per-nation
    sum, so supplier accumulation order can't flap bits.

    Scale: one fact pass keyed (nation, supplier) with map-side
    combine, then supplier-cardinality rows collapse per nation; the
    25-row nation dimension broadcasts. No window, no driver state."""
    li = table(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    rev = (
        li.join(sup, li["l_suppkey"] == sup["s_suppkey"])
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(38,8)")).alias("r")
        )
    )
    nat = rev.groupBy("s_nationkey").agg(
        F.sum("r").alias("tot"),
        F.count(F.lit(1)).alias("n_suppliers"),
        F.max("r").alias("top_r"),
    )
    share = F.col("r").cast("double") / F.col("tot").cast("double")
    sh = rev.join(F.broadcast(nat.select("s_nationkey", "tot")), "s_nationkey").select(
        "s_nationkey", (share * share).cast("decimal(38,12)").alias("s2")
    )
    hhi = sh.groupBy("s_nationkey").agg(F.sum("s2").alias("h"))
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        hhi.join(nat, "s_nationkey")
        .join(F.broadcast(n), hhi["s_nationkey"] == n["n_nationkey"])
        .select(
            F.col("n_name").alias("nation"),
            F.col("n_suppliers").cast("bigint").alias("n_suppliers"),
            dround(F.col("h").cast("double"), 6).alias("hhi"),
            dround(
                F.col("top_r").cast("double") / F.col("tot").cast("double"), 6
            ).alias("top_share"),
        )
    )


DECOMP_M0 = "1997-01-01"  # base month
DECOMP_M1 = "1997-02-01"  # comparison month
DECOMP_M2 = "1997-03-01"  # exclusive end


@query(
    "q_olap_revenue_decomp",
    oracle=f"""
    WITH base AS (
      SELECT l.l_partkey AS pk,
             sum(cast(l.l_quantity AS DECIMAL(38,8))) AS q,
             sum(cast(l.l_extendedprice AS DECIMAL(38,8))) AS r
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderdate >= TIMESTAMP '{DECOMP_M0}'
        AND o.o_orderdate < TIMESTAMP '{DECOMP_M1}'
      GROUP BY 1
    ),
    comp AS (
      SELECT l.l_partkey AS pk,
             sum(cast(l.l_quantity AS DECIMAL(38,8))) AS q,
             sum(cast(l.l_extendedprice AS DECIMAL(38,8))) AS r
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderdate >= TIMESTAMP '{DECOMP_M1}'
        AND o.o_orderdate < TIMESTAMP '{DECOMP_M2}'
      GROUP BY 1
    ),
    both_ AS (SELECT b.pk, b.q AS q0, b.r AS r0, c.q AS q1, c.r AS r1
              FROM base b JOIN comp c USING (pk)),
    eff AS (
      SELECT
        cast(cast(sum(cast(
          (cast(q1 AS DOUBLE) - cast(q0 AS DOUBLE))
          * (cast(r0 AS DOUBLE) / cast(q0 AS DOUBLE))
          AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS volume_effect,
        cast(cast(sum(cast(
          (cast(r1 AS DOUBLE) / cast(q1 AS DOUBLE)
           - cast(r0 AS DOUBLE) / cast(q0 AS DOUBLE))
          * cast(q1 AS DOUBLE)
          AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS price_effect,
        count(*) AS n_common_parts,
        cast(sum(r1) - sum(r0) AS DOUBLE) AS delta_common
      FROM both_
    ),
    new_ AS (
      SELECT coalesce(cast(sum(c.r) AS DOUBLE), 0.0) AS new_rev
      FROM comp c LEFT JOIN base b USING (pk) WHERE b.pk IS NULL
    ),
    lost AS (
      SELECT coalesce(cast(sum(b.r) AS DOUBLE), 0.0) AS lost_rev
      FROM base b LEFT JOIN comp c USING (pk) WHERE c.pk IS NULL
    )
    SELECT eff.n_common_parts,
           {sql_dround("eff.delta_common", 2)} AS delta_common,
           {sql_dround("eff.volume_effect", 2)} AS volume_effect,
           {sql_dround("eff.price_effect", 2)} AS price_effect,
           {sql_dround("new_.new_rev", 2)} AS new_parts_rev,
           {sql_dround("lost.lost_rev", 2)} AS lost_parts_rev
    FROM eff CROSS JOIN new_ CROSS JOIN lost
    """,
)
def q_olap_revenue_decomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue-change decomposition at the part
    level: ΔR over common parts splits exactly into a VOLUME effect
    Σ Δq·p₀ and a PRICE effect Σ Δp·q₁ (p = r/q the realized unit
    price; the two terms telescope so volume+price ≡ Δcommon), plus
    the revenue entering via new parts and leaving via lapsed parts —
    the FP&A "why did revenue move" bridge.

    Determinism: per-part decimal sums; each part's effect term is one
    fixed-order double expression quantized to DECIMAL(38,8) before
    the part-accumulation sum.

    Scale: two date-pruned fact passes keyed partkey (the orderkey
    join is co-partitioned), one partkey equi-join plus two anti-join
    legs, everything collapsing to a one-row bridge. No window."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")

    def month(d0, d1):
        j = li.join(
            o.filter(
                (F.col("o_orderdate") >= F.lit(d0).cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(d1).cast("timestamp"))
            ),
            li["l_orderkey"] == o["o_orderkey"],
        )
        return j.groupBy(F.col("l_partkey").alias("pk")).agg(
            F.sum(F.col("l_quantity").cast("decimal(38,8)")).alias("q"),
            F.sum(F.col("l_extendedprice").cast("decimal(38,8)")).alias("r"),
        )

    base = month(DECOMP_M0, DECOMP_M1)
    comp = month(DECOMP_M1, DECOMP_M2)
    b = base.select("pk", F.col("q").alias("q0"), F.col("r").alias("r0"))
    c = comp.select("pk", F.col("q").alias("q1"), F.col("r").alias("r1"))
    both = b.join(c, "pk")
    q0d, q1d = F.col("q0").cast("double"), F.col("q1").cast("double")
    r0d, r1d = F.col("r0").cast("double"), F.col("r1").cast("double")
    eff = both.select(
        "pk",
        "r0",
        "r1",
        ((q1d - q0d) * (r0d / q0d)).cast("decimal(38,8)").alias("vol_t"),
        ((r1d / q1d - r0d / q0d) * q1d).cast("decimal(38,8)").alias("prc_t"),
    ).agg(
        F.sum("vol_t").cast("double").alias("volume_effect"),
        F.sum("prc_t").cast("double").alias("price_effect"),
        F.count(F.lit(1)).alias("n_common_parts"),
        (F.sum("r1") - F.sum("r0")).cast("double").alias("delta_common"),
    )
    new_ = c.join(b.select("pk"), "pk", "left_anti").agg(
        F.coalesce(F.sum("r1").cast("double"), F.lit(0.0)).alias("new_rev")
    )
    lost = b.join(c.select("pk"), "pk", "left_anti").agg(
        F.coalesce(F.sum("r0").cast("double"), F.lit(0.0)).alias("lost_rev")
    )
    return (
        eff.crossJoin(F.broadcast(new_))
        .crossJoin(F.broadcast(lost))
        .select(
            "n_common_parts",
            dround("delta_common", 2).alias("delta_common"),
            dround("volume_effect", 2).alias("volume_effect"),
            dround("price_effect", 2).alias("price_effect"),
            dround("new_rev", 2).alias("new_parts_rev"),
            dround("lost_rev", 2).alias("lost_parts_rev"),
        )
    )


SEQ_BRAND_A = "Brand#1"  # antecedent purchase
SEQ_BRAND_B = "Brand#2"  # consequent purchase


@query(
    "q_olap_purchase_sequence",
    oracle=f"""
    WITH firsts AS (
      SELECT o.o_custkey,
             min(CASE WHEN p.p_brand = '{SEQ_BRAND_A}'
                      THEN o.o_orderdate END) AS first_a,
             min(CASE WHEN p.p_brand = '{SEQ_BRAND_B}'
                      THEN o.o_orderdate END) AS first_b
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_brand IN ('{SEQ_BRAND_A}', '{SEQ_BRAND_B}')
      GROUP BY o.o_custkey
    )
    SELECT n.n_name AS nation,
           sum(CASE WHEN first_a IS NOT NULL AND first_b IS NOT NULL
                     AND first_a < first_b THEN 1 ELSE 0 END)::BIGINT
             AS n_a_then_b,
           sum(CASE WHEN first_a IS NOT NULL AND first_b IS NOT NULL
                    THEN 1 ELSE 0 END)::BIGINT AS n_both,
           sum(CASE WHEN first_a IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_bought_a,
           sum(CASE WHEN first_b IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_bought_b
    FROM firsts f
    JOIN customer c ON f.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q_olap_purchase_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining primitive: per nation, how many
    customers first bought {SEQ_BRAND_A} and only LATER {SEQ_BRAND_B}
    (strict first-purchase-date order), alongside the unordered
    both/either counts — the A-then-B cohort every
    recommendation/causal funnel starts from, and a shape plain
    basket affinity (q_olap_basket_affinity) can't express because it
    needs per-entity ORDER, not co-occurrence.

    Determinism: min over dates and integer counts only.

    Scale: the brand filter hits the part dimension BEFORE the fact
    join (two brands ≈ 2/|brands| of part — broadcastable), so the
    fact table is pruned by a broadcast hash join; first-purchase
    dates reduce by customer key with map-side combine; the nation
    rollup joins two dimensions broadcast-side."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    p = table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin(SEQ_BRAND_A, SEQ_BRAND_B)
    )
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    firsts = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_custkey")
        .agg(
            F.min(
                F.when(F.col("p_brand") == SEQ_BRAND_A, F.col("o_orderdate"))
            ).alias("first_a"),
            F.min(
                F.when(F.col("p_brand") == SEQ_BRAND_B, F.col("o_orderdate"))
            ).alias("first_b"),
        )
    )
    a, b = F.col("first_a"), F.col("first_b")
    return (
        firsts.join(c, firsts["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(
                F.when(a.isNotNull() & b.isNotNull() & (a < b), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_a_then_b"),
            F.sum(F.when(a.isNotNull() & b.isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_both"),
            F.sum(F.when(a.isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_bought_a"),
            F.sum(F.when(b.isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_bought_b"),
        )
    )


TREND_EPOCH = 1995 * 12  # month-index origin: Jan 1995 -> 1


@query(
    "q_olap_spend_trend",
    oracle=f"""
    WITH m AS (
      SELECT o_custkey,
             (year(o_orderdate) * 12 + month(o_orderdate) - {TREND_EPOCH}) AS mx,
             sum(cast(cast(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
               AS sc
      FROM orders GROUP BY 1, 2
    ),
    s AS (
      SELECT o_custkey, count(*) AS n,
             sum(mx) AS sx, sum(mx * mx) AS sxx,
             sum(sc) AS syc, sum(mx * sc) AS sxyc
      FROM m GROUP BY 1
    )
    SELECT o_custkey, n::INT AS n_months,
           {sql_dround(
               "cast(n * sxyc - sx * syc AS DOUBLE)"
               " / (cast(n * sxx - sx * sx AS DOUBLE) * 100.0)",
               6,
           )} AS slope
    FROM s WHERE n >= 2
    """,
)
def q_olap_spend_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer spend trend: OLS slope of monthly spend against a
    linear month index, for every customer active in ≥2 distinct
    months — the churn-risk / growth-account screen (negative slope =
    declining spend) that turns the warehouse into a per-entity model
    fleet: one closed-form regression per customer from sufficient
    statistics, no iteration.

    Determinism: the month index is an exact SMALL integer — centered
    at the Jan-1995 epoch, because an uncentered year·12 index (~24e3)
    puts ~3 digits of catastrophic cancellation into n·Σxy − Σx·Σy and
    the two engines' last-ulp differences then surface at 6dp (measured
    before centering); monthly spend and the x·y cross-products
    are INTEGER CENTS (each total quantized once to DECIMAL(18,2),
    then ×100 → BIGINT), so numerator and denominator are exact
    integers and the slope is ONE double division — nothing left to
    flap (the decimal-sufficient-statistics version still flapped a
    6dp boundary at sf0.1 through the cancellation-amplified ulp).

    Scale: two stacked map-side-combined groupBys, both keyed (or
    prefix-keyed) by o_custkey — one shuffle total since the second
    groupBy is a prefix of the first's key; no window, no driver
    state. Skew = orders per customer per month, naturally bounded."""
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(
        "o_custkey",
        (
            F.year("o_orderdate") * 12 + F.month("o_orderdate") - TREND_EPOCH
        ).alias("mx"),
    ).agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
                "bigint"
            )
        ).alias("sc")
    )
    s = m.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("mx").alias("sx"),
        F.sum(F.col("mx") * F.col("mx")).alias("sxx"),
        F.sum("sc").alias("syc"),
        F.sum(F.col("mx") * F.col("sc")).alias("sxyc"),
    )
    n = F.col("n")
    sx, sxx = F.col("sx"), F.col("sxx")
    syc, sxyc = F.col("syc"), F.col("sxyc")
    return s.filter(n >= 2).select(
        "o_custkey",
        n.cast("int").alias("n_months"),
        dround(
            (n * sxyc - sx * syc).cast("double")
            / ((n * sxx - sx * sx).cast("double") * 100.0),
            6,
        ).alias("slope"),
    )


@query(
    "q_olap_ship_lag",
    oracle="""
    WITH lag_days AS (
      SELECT o.o_orderpriority AS priority,
             (epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate))
               // 86400000000 AS lag_d
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT priority,
           count(*)::BIGINT AS n_lines,
           min(lag_d)::BIGINT AS min_days,
           cast(cast(round(cast(cast((quantile_cont(lag_d, 0.5)) AS VARCHAR)
             AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS p50_days,
           cast(cast(round(cast(cast((quantile_cont(lag_d, 0.95)) AS VARCHAR)
             AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS p95_days,
           max(lag_d)::BIGINT AS max_days
    FROM lag_days GROUP BY priority
    """,
)
def q_olap_ship_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution per order priority: exact
    interpolated p50/p95 (plus min/max) of the days between order
    placement and each line's ship date — the fulfillment-SLA monitor
    (urgent orders SHOULD show a tighter p95; if the priorities'
    curves coincide, priority handling is theater), and the latency
    twin of q_olap_priority_shipping's volume view.

    Determinism: lags are exact integer days (integer-µs floor
    division); Spark ``percentile`` ≡ DuckDB ``quantile_cont``.

    Scale: one fact-sized equi join shuffled on orderkey (or
    co-located via the bucketed-table path of q_sink_bucketed_join),
    then a per-priority exact-percentile buffer — at 100 TB swap to
    approx_percentile with the same shape."""
    from spark_clustering_spark.functions.detagg import dround

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    lag_d = F.expr(
        "(unix_micros(cast(l_shipdate AS timestamp))"
        " - unix_micros(cast(o_orderdate AS timestamp))) div 86400000000"
    )
    # spread the fact side BEFORE the broadcast join (was: after), so
    # the join, the lag arithmetic AND the exact-percentile partial
    # buffers all run at cluster parallelism instead of on the single
    # scan task of a compacted input (guide §6).
    j = spread(li).join(o, F.col("l_orderkey") == o["o_orderkey"]).select(
        F.col("o_orderpriority").alias("priority"), lag_d.alias("lag_d")
    )
    pcts = F.percentile("lag_d", F.array(F.lit(0.5), F.lit(0.95)))
    return (
        j.groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.min("lag_d").cast("bigint").alias("min_days"),
            pcts.alias("ps"),
            F.max("lag_d").cast("bigint").alias("max_days"),
        )
        .select(
            "priority",
            "n_lines",
            "min_days",
            dround(F.col("ps")[0]).alias("p50_days"),
            dround(F.col("ps")[1]).alias("p95_days"),
            "max_days",
        )
    )
