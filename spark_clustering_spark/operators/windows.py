"""Window-function operators + top-k (SURVEY.md §2B "Window functions",
"Sorts / limits / top-k").

Running float sums are order-pinned by the window ORDER BY, so both
engines accumulate identically — no decimal cast needed except where a
frame's internal order is unspecified (the RANGE frame avg).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_clustering_spark.functions.detagg import dround, sql_dround
from spark_clustering_spark.io import register_temp_views, shuffle_width, table
from spark_clustering_spark.registry import query


@query(
    "q_window_rank",
    oracle="""
    SELECT o_orderkey, o_custkey,
           row_number() OVER w ::INT AS rn,
           rank() OVER w ::INT AS rnk,
           dense_rank() OVER w ::INT AS drnk
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number/rank/dense_rank of orders per customer by price."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@query(
    "q_window_running",
    oracle=f"""
    SELECT o_orderkey, o_custkey,
           {sql_dround('''sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)''')} AS run_total
    FROM orders
    """,
)
def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue per customer (reference R7 is the same running-
    min pattern). ORDER BY pins the accumulation order → bit-identical."""
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        dround(F.sum("o_totalprice").over(w)).alias("run_total"),
    )


@query(
    "q_window_running_global",
    oracle="""
    SELECT o_orderkey,
           cast(cast(round(sum(cast(o_totalprice AS DECIMAL(38,8))) OVER (
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS VARCHAR) AS DOUBLE)
             AS run_total
    FROM orders
    """,
)
def q_window_running_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL running revenue total (no PARTITION BY) as a first-class
    surface, served by ``global_running_agg`` — the scalable answer to
    the most common single-reducer trap in analytics SQL. The sum runs
    as DECIMAL(38,8): exact in any accumulation grouping, so the
    per-slice + carry-in composition is bit-identical to the oracle's
    strictly sequential fold (a double sum would drift, since the two
    engines group additions differently). The emit rounds to 4 dp
    FIRST (exact — prices carry 2 dp) so the decimal→double cast stays
    below 2^53 scaled units: DuckDB converts big decimals via
    double(hugeint)/10^scale, which mis-rounds the last ulp at scale 8
    once the running total passes ~9e7 (caught by the sf0.1 sweep)."""
    o = table(spark, sf_dir, "orders")
    out, _ = global_running_agg(
        o,
        [F.col("o_orderdate"), F.col("o_orderkey")],
        {"run_total": ("sum", F.col("o_totalprice").cast("decimal(38,8)"))},
    )
    return out.select(
        "o_orderkey",
        F.round(F.col("run_total"), 4).cast("double").alias("run_total"),
    )


@query(
    "q_window_lag_lead",
    oracle="""
    SELECT o_orderkey, o_custkey,
           strftime(lag(o_orderdate) OVER w, '%Y-%m-%d') AS prev_d,
           strftime(lead(o_orderdate) OVER w, '%Y-%m-%d') AS next_d,
           date_diff('day', lag(o_orderdate) OVER w, o_orderdate)::INT AS gap_days
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead of order dates per customer with day gaps."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderdate").over(w)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.date_format(prev, "yyyy-MM-dd").alias("prev_d"),
        F.date_format(F.lead("o_orderdate").over(w), "yyyy-MM-dd").alias("next_d"),
        F.datediff(F.col("o_orderdate").cast("date"), prev.cast("date")).alias("gap_days"),
    )


@query(
    "q_window_range_frame",
    oracle=f"""
    SELECT o_orderkey, o_custkey,
           {sql_dround('''cast(cast(sum(cast(o_totalprice AS DECIMAL(38,8))) OVER w AS VARCHAR) AS DOUBLE)
                 / count(*) OVER w''')} AS avg_30d
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                 RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
    """,
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE frame (30-day trailing average). The frame's
    internal accumulation order is engine-chosen → exact decimal sum."""
    register_temp_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey,
               cast(round(cast(
                 cast(sum(cast(o_totalprice AS DECIMAL(38,8))) OVER w AS DOUBLE)
                   / count(*) OVER w
                 AS DECIMAL(38,12)), 4) AS DOUBLE) AS avg_30d
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                     RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
        """
    )


NTILE_ORACLE = """
    SELECT c_custkey,
           ntile(4) OVER (ORDER BY c_acctbal, c_custkey) ::INT AS quartile
    FROM customer
    """


@query("q_window_ntile", oracle=NTILE_ORACLE)
def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global quartiles, served by the sliced scale
    path (``ntile_scalable``) — ``Window.orderBy`` with no PARTITION BY
    would funnel every row through one reducer, which is the classic
    100 TB scale-killer. Both this query and
    ``q_window_ntile_scalable`` hash-match the identical ntile(4)
    oracle, so delegation changes the plan, not the answer."""
    c = table(spark, sf_dir, "customer")
    t = ntile_scalable(
        c, ["c_acctbal", "c_custkey"], n_tiles=4, out_col="quartile"
    )
    return t.select("c_custkey", "quartile")


def _order_key(c, jvm) -> tuple:
    """``(value column, descending, nulls_first)`` of one ORDER BY item:
    a name or plain Column sorts ascending with nulls first (Spark's
    default); a ``.desc()`` / ``.asc_nulls_last()``-style sort order
    carries its own direction and null placement, read from the
    Column's JVM sort-order node."""
    col = F.col(c) if isinstance(c, str) else c
    node = col._jc.node()
    if node.getClass().getSimpleName() != "SortOrder":
        return col, False, True
    child = Column(jvm.org.apache.spark.sql.Column(node.child()))
    desc = node.sortDirection().getClass().getSimpleName() == "Descending$"
    nulls_first = node.nullOrdering().getClass().getSimpleName() == "NullsFirst$"
    return child, desc, nulls_first


def _after(keys: list, cut: tuple):
    """Boolean Column: the row sorts strictly after the literal key tuple
    ``cut`` under ``keys`` — lexicographic, each key with its own
    direction and null placement (a null cut value resolves here, on the
    driver). A null result means "not after": the expression has no
    negation, and CASE WHEN reads null as false."""
    after = None
    for (col, desc, nulls_first, dt), v in reversed(list(zip(keys, cut))):
        if v is None:  # only non-null rows sort after a null, iff nulls go first
            gt, eq = (col.isNotNull() if nulls_first else None), col.isNull()
        else:
            lit = F.lit(v).cast(dt)
            gt = col < lit if desc else col > lit
            if not nulls_first:  # a null row sorts after a non-null cut
                gt = gt | col.isNull()
            eq = col.eqNullSafe(lit)
        if after is not None:
            tie = eq & after
            gt = tie if gt is None else gt | tie
        after = F.lit(False) if gt is None else gt
    return after


def _slice_ids(df: DataFrame, order_cols: list, num_partitions: int):
    """Slice-id Column in ``[0, num_partitions)`` for ``df``'s rows: the
    number of literal cuts a row sorts strictly after. The cuts are
    evenly spaced tuples of a sorted ≤ 20·``num_partitions``-row random
    sample of the full order key (one small job)."""
    jvm = df.sparkSession._jvm
    keys = [_order_key(c, jvm) for c in order_cols]
    sample = (
        df.orderBy(F.rand(seed=0))
        .limit(20 * num_partitions)
        .orderBy(*order_cols)
        .select(*[col for col, _, _ in keys])
    )
    types = [f.dataType.simpleString() for f in sample.schema.fields]
    keys = [k + (dt,) for k, dt in zip(keys, types)]
    tuples = sample.collect()
    cuts = [
        tuples[(j + 1) * len(tuples) // num_partitions]
        for j in range(num_partitions - 1)
    ] if tuples else []

    def slice_of(lo: int, hi: int):  # bisection over the sorted cuts[lo:hi]
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(
            _after(keys, cuts[mid]), slice_of(mid + 1, hi)
        ).otherwise(slice_of(lo, mid))

    return slice_of(0, len(cuts))


def global_running_agg(
    df: DataFrame,
    order_cols: list,
    aggs: dict,
    num_partitions: int | None = None,
):
    """Exact global running aggregates without a single-partition sort.

    ``Window.orderBy`` with no PARTITION BY forces every row through one
    reducer — the classic 100 TB scale-killer. This is the generalized
    two-pass slice + carry-in pattern (the ``ntile_scalable``
    machinery, promoted per VERDICT r4 task 1):

    1. One small job samples ≤ 20·``num_partitions`` order-key tuples
       (a seeded random top-m) and sorts them; ``num_partitions``−1 of
       them, evenly spaced, become the slice cuts. ``order_cols`` may be
       names, ``Column`` expressions or sort orders (``.desc()``,
       ``.asc_nulls_last()``, …); include a unique tiebreaker so the
       cuts split runs of tied leading keys.
    2. The cuts enter the plan as literals: a row's slice ``_pid`` is
       the number of cuts it sorts strictly after — a binary search of
       lexicographic comparisons that honour each key's direction and
       null placement. ``_pid`` is a pure function of the row's keys, so
       every execution of the returned frame sees the same slices; no
       range shuffle, no pin, nothing to release.
    3. One small job collects per-slice aggregate partials
       (``num_partitions`` rows — the k·partitions small-state pattern,
       same as centroid collection); the driver combines them into an
       exclusive prefix ("carry-in") per slice.
    4. A per-slice window (``PARTITION BY _pid``) computes the local
       running aggregate; the global value = carry-in ⊕ local.
       Carry-ins ride as a dense ARRAY literal indexed by ``_pid`` —
       O(1) per-row probe (Spark map literals probe linearly).

    ``aggs`` maps output column name → ``(kind, expr)`` with ``kind``
    in ``{"sum", "max", "count"}`` (``count`` ignores ``expr`` and
    yields the 1-based global row number). Returns ``(df_with_outputs,
    totals)`` where ``totals[out]`` is the exact grand total/max/count
    combined driver-side from the per-slice partials (None on empty
    input) — callers needing a "grand total" column get it as a
    literal instead of a second data-wide window.

    Each of the three jobs (sample, partials, the caller's action on
    the returned frame) evaluates the input: nothing is kept between
    them, so an expensive input (an aggregate, or a chain of these
    calls) is computed three times.
    """
    if num_partitions is None:
        num_partitions = max(shuffle_width(df.sparkSession), 2)
    d = df.withColumn("_pid", _slice_ids(df, order_cols, num_partitions))
    slice_aggs = []
    for out, (kind, expr) in aggs.items():
        col = F.col(expr) if isinstance(expr, str) else expr
        if kind == "sum":
            slice_aggs.append(F.sum(col).alias(out))
        elif kind == "max":
            slice_aggs.append(F.max(col).alias(out))
        elif kind == "count":
            slice_aggs.append(F.count(F.lit(1)).alias(out))
        else:
            raise ValueError(f"unsupported running-agg kind: {kind!r}")
    stats = d.groupBy("_pid").agg(*slice_aggs)
    rows = {r["_pid"]: r for r in stats.collect()}
    types = {f.name: f.dataType for f in stats.schema.fields if f.name != "_pid"}
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    run_frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out_df = d
    totals: dict = {}
    for out, (kind, expr) in aggs.items():
        col = F.col(expr) if isinstance(expr, str) else expr
        # Exclusive prefix combine across slices — P driver-side values.
        carries: list = []
        acc = None
        for pid in range(num_partitions):
            carries.append(acc)
            row = rows.get(pid)
            v = row[out] if row is not None else None
            if v is not None:
                if acc is None:
                    acc = v
                elif kind == "max":
                    acc = max(acc, v)
                else:  # sum / count
                    acc = acc + v
        totals[out] = acc
        dt = types[out]
        carry = F.element_at(
            F.array(*[F.lit(c).cast(dt) for c in carries]), F.col("_pid") + 1
        )
        if kind == "sum":
            run = F.sum(col).over(run_frame)
            out_col = F.when(carry.isNull(), run).otherwise(carry + run)
        elif kind == "max":
            run = F.max(col).over(run_frame)
            out_col = F.greatest(carry, run)  # greatest skips nulls
        else:  # count → 1-based global row number
            out_col = (
                F.coalesce(carry, F.lit(0)).cast("bigint") + F.row_number().over(w)
            )
        out_df = out_df.withColumn(out, out_col)
    return out_df.drop("_pid"), totals


def ntile_scalable(
    df: DataFrame,
    order_cols: list[str],
    n_tiles: int,
    num_partitions: int | None = None,
    out_col: str = "tile",
) -> DataFrame:
    """Exact global ntile via ``global_running_agg``'s two-pass rank:
    global rank = slice carry-in + local row_number; the exact ntile
    bucket formula (first ``total % n`` buckets get one extra row) maps
    rank → tile."""
    d, totals = global_running_agg(
        df, list(order_cols), {"_grank": ("count", None)}, num_partitions
    )
    total = totals["_grank"] or 0
    if total == 0:  # empty input: keep the output schema, zero rows
        return d.withColumn(out_col, F.lit(0).cast("int")).drop("_grank")
    base, rem = divmod(total, n_tiles)
    rank = F.col("_grank")
    if base == 0:  # more tiles than rows: ntile degenerates to rank
        tile = rank
    else:
        cut = rem * (base + 1)  # rows covered by the (base+1)-sized tiles
        tile = (
            F.when(rank <= cut, F.floor((rank - 1) / (base + 1)))
            .otherwise(rem + F.floor((rank - 1 - cut) / base))
            + 1
        )
    return d.withColumn(out_col, tile.cast("int")).drop("_grank")


@query("q_window_ntile_scalable", oracle=NTILE_ORACLE)
def q_window_ntile_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same exact quartiles as ``q_window_ntile``, produced by the
    scale path (literal slice cuts + per-slice offsets) — the oracle is
    identical, so the driver hash-verifies the two variants agree."""
    return q_window_ntile(spark, sf_dir)


@query(
    "q_topk_global",
    oracle=f"""
    SELECT o_orderkey, {sql_dround('o_totalprice')} AS o_totalprice
    FROM (SELECT * FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10)
    """,
)
def q_topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 (TakeOrderedAndProject — per-partition heap, no
    full sort)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", dround("o_totalprice").alias("o_totalprice"))
    )


@query(
    "q_topk_per_group",
    oracle="""
    SELECT p_brand, p_partkey, p_size, rn::INT AS rn FROM (
      SELECT p_brand, p_partkey, p_size,
             row_number() OVER (PARTITION BY p_brand
                                ORDER BY p_size DESC, p_partkey) AS rn
      FROM part) t
    WHERE rn <= 3
    """,
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts by size per brand (window row_number + filter)."""
    p = table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.col("p_size").desc(), F.col("p_partkey"))
    return (
        p.select("p_brand", "p_partkey", "p_size", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
    )


@query(
    "q_window_pct_rank",
    oracle="""
    SELECT c_custkey,
           cast(cast(round(cast(cast((percent_rank() OVER w) AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS pr,
           cast(cast(round(cast(cast((cume_dist() OVER w) AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS cd
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def q_window_pct_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist per market segment — exact rational
    divisions ((rank-1)/(n-1), rank/n), so the doubles are bit-identical
    cross-engine before the stabilizing round."""
    c = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        dround(F.percent_rank().over(w)).alias("pr"),
        dround(F.cume_dist().over(w)).alias("cd"),
    )


@query(
    "q_window_mode",
    oracle="""
    SELECT user_id, event_type AS top_type, n FROM (
      SELECT user_id, event_type, count(*) AS n,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY count(*) DESC, event_type) AS rn
      FROM events GROUP BY user_id, event_type) t
    WHERE rn = 1
    """,
)
def q_window_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-frequent event type per user with a deterministic
    tie-break (count desc, then lexicographic) — the portable mode():
    engine-native mode() picks ties arbitrarily, so it can never be
    hash-verified."""
    ev = table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.col("n").desc(), "event_type")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("top_type"), "n")
    )


@query(
    "q_window_first_last",
    oracle="""
    SELECT DISTINCT user_id,
           first_value(event_type) OVER w AS first_evt,
           last_value(event_type) OVER w AS last_evt,
           nth_value(event_type, 2) OVER w AS second_evt,
           count(*) OVER w AS n_events
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q_window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user journey endpoints: first / last / second event type by
    time (ties broken by event_id so the frame order is total). All
    navigation functions share one full-partition frame — Catalyst
    evaluates them in a single Window node, one shuffle on user_id."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "user_id",
        F.first("event_type").over(w).alias("first_evt"),
        F.last("event_type").over(w).alias("last_evt"),
        F.nth_value("event_type", 2).over(w).alias("second_evt"),
        F.count(F.lit(1)).over(w).alias("n_events"),
    ).distinct()


@query(
    "q_window_cum_distinct",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n_events
      FROM events GROUP BY 1, 2
    ),
    firsts AS (
      SELECT event_type, min(date_trunc('day', ts)) AS fday, user_id
      FROM events GROUP BY event_type, user_id
    ),
    news AS (
      SELECT event_type, fday AS day, count(*) AS n_new
      FROM firsts GROUP BY 1, 2
    )
    SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day, d.n_events,
           CAST(sum(coalesce(n.n_new, 0)) OVER (
             PARTITION BY d.event_type ORDER BY d.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_distinct_users
    FROM daily d LEFT JOIN news n
      ON n.event_type = d.event_type AND n.day = d.day
    """,
)
def q_window_cum_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per event type by day — the
    "audience-to-date" growth curve. COUNT(DISTINCT) OVER a running
    frame is unsupported (and would be quadratic anyway); the
    first-occurrence decomposition makes it linear: each user counts
    once, on the day of their first event of that type, and the
    running total of those first-occurrence counts IS the cumulative
    distinct count. Pure integer arithmetic — exact everywhere.

    Scale: two aggregates (daily volume; per-(type, user) min-day —
    the only user-cardinality shuffle) and a window over the tiny
    (type × day) frame. The raw stream is never windowed."""
    e = table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    daily = e.groupBy("event_type", day.alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    firsts = e.groupBy("event_type", "user_id").agg(F.min(day).alias("fday"))
    news = firsts.groupBy("event_type", F.col("fday").alias("day")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        daily.join(news, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            "n_events",
            F.sum(F.coalesce("n_new", F.lit(0)))
            .over(w)
            .cast("bigint")
            .alias("cum_distinct_users"),
        )
        .withColumn("day", F.date_format("day", "yyyy-MM-dd"))
    )
