"""Time-series operators over the events table (SURVEY.md §2B
extensions): batch sessionization and gap-filled resampling — the two
patterns every event-log pipeline needs alongside the streaming
variants in streaming/windows.py.

Determinism notes: all gap/bucket math happens on integer microseconds
(Spark ``unix_micros`` ≡ DuckDB ``epoch_us`` — both engines read the
TIMESTAMP(NANOS) parquet with ns→us truncation, see io.table), so no
float time arithmetic can diverge; emitted floats go through the
detagg decimal pivot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_clustering_spark.functions.detagg import dround, dsum, sql_dround, sql_dsum
from spark_clustering_spark.io import pin, table
from spark_clustering_spark.registry import query

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap
HOUR_US = 3_600 * 1_000_000
DAY_US = 24 * HOUR_US


@query(
    "q_window_sessionize",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, ts_us, value,
             CASE WHEN lag(ts_us) OVER w IS NULL
                    OR ts_us - lag(ts_us) OVER w > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    sess AS (
      SELECT user_id, ts_us, value,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::INT
               AS session_idx
      FROM flagged
    )
    SELECT user_id, session_idx, count(*) AS n_events,
           min(ts_us) AS start_us, max(ts_us) AS end_us,
           {sql_dsum('value', 'sum_value')}
    FROM sess GROUP BY user_id, session_idx
    """,
)
def q_window_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: per user, a new session starts after a
    30-minute inactivity gap; sessions are numbered by a running sum of
    the new-session flags. Scale shape: one hash shuffle on user_id
    (the window and the final aggregate share it), no global sort."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us"), "value"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lag_us = F.lag("ts_us").over(w)
    is_new = F.when(
        lag_us.isNull() | (F.col("ts_us") - lag_us > SESSION_GAP_US), 1
    ).otherwise(0)
    sess = e.withColumn("is_new", is_new).withColumn(
        "session_idx", F.sum("is_new").over(w_run).cast("int")
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_us").alias("start_us"),
        F.max("ts_us").alias("end_us"),
        dsum("value", "sum_value"),
    )


@query(
    "q_ts_gapfill",
    oracle=f"""
    WITH e AS (
      SELECT epoch_us(ts) // {HOUR_US} AS hour_id, value FROM events
    ),
    hourly AS (
      SELECT hour_id, count(*) AS n_events,
             {sql_dround(f"cast(cast(sum(cast(value AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) / count(*)")} AS avg_v
      FROM e GROUP BY hour_id
    ),
    b AS (SELECT min(hour_id) AS lo, max(hour_id) AS hi FROM hourly),
    hours AS (SELECT unnest(generate_series(lo, hi)) AS hour_id FROM b)
    SELECT h.hour_id,
           coalesce(n_events, 0) AS n_events,
           last_value(avg_v IGNORE NULLS) OVER (
             ORDER BY h.hour_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_v_ffill
    FROM hours h LEFT JOIN hourly USING (hour_id)
    """,
)
def q_ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly resample of the event stream: generate the
    full hour range between the observed min and max buckets, left-join
    the hourly aggregates, fill missing counts with 0 and forward-fill
    the hourly average (last non-null).

    Scale shape: the hour range is derived from a 1-row aggregate and
    exploded — never collected to the driver; the joined series has one
    row per hour of wall-clock coverage (small by construction — time
    ranges grow far slower than data), so the final ordered ffill
    window over it is bounded state, not a data-sized sort."""
    e = table(spark, sf_dir, "events").select(
        F.expr(f"unix_micros(ts) div {HOUR_US}").alias("hour_id"), "value"
    )
    from spark_clustering_spark.functions.detagg import DEC

    hourly = e.groupBy("hour_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        dround(
            F.sum(F.col("value").cast(DEC)).cast("double") / F.count(F.lit(1))
        ).alias("avg_v"),
    )
    bounds = hourly.agg(F.min("hour_id").alias("lo"), F.max("hour_id").alias("hi"))
    hours = bounds.select(F.explode(F.sequence("lo", "hi")).alias("hour_id"))
    joined = hours.join(hourly, "hour_id", "left")
    w_ff = Window.orderBy("hour_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return joined.select(
        "hour_id",
        F.coalesce("n_events", F.lit(0).cast("bigint")).alias("n_events"),
        F.last("avg_v", ignorenulls=True).over(w_ff).alias("avg_v_ffill"),
    )


@query(
    "q_ts_funnel",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
    ),
    s1 AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts_us END) AS t_view
      FROM e GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(ts_us) AS t_click
      FROM e JOIN s1 USING (user_id)
      WHERE event_type = 'click' AND ts_us >= t_view
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(ts_us) AS t_purchase
      FROM e JOIN s2 USING (user_id)
      WHERE event_type = 'purchase' AND ts_us >= t_click
      GROUP BY e.user_id
    )
    SELECT count(t_view) AS n_view,
           (SELECT count(*) FROM s2) AS n_click_after_view,
           (SELECT count(*) FROM s3) AS n_purchase_after_click
    FROM s1
    """,
)
def q_ts_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel over the event stream: users who viewed, then
    clicked at-or-after their first view, then purchased at-or-after
    their first qualifying click — the ordered-sequence analysis every
    event pipeline runs.

    Scale shape: every stage is a groupBy/join keyed on user_id — one
    hash partitioning reused across all three stages (AQE reuses the
    exchange), per-user state is a single timestamp per stage, and the
    final output is one row of counts. No sort, no window over the full
    stream, no driver-side state."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    s1 = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts_us"))).alias(
            "t_view"
        )
    )
    s2 = (
        e.join(s1, "user_id")
        .filter((F.col("event_type") == "click") & (F.col("ts_us") >= F.col("t_view")))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t_click"))
    )
    s3 = (
        e.join(s2, "user_id")
        .filter(
            (F.col("event_type") == "purchase")
            & (F.col("ts_us") >= F.col("t_click"))
        )
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t_purchase"))
    )
    return (
        s1.agg(F.count("t_view").alias("n_view"))
        .crossJoin(s2.agg(F.count(F.lit(1)).alias("n_click_after_view")))
        .crossJoin(s3.agg(F.count(F.lit(1)).alias("n_purchase_after_click")))
    )


@query(
    "q_ts_retention",
    oracle=f"""
    WITH ud AS (
      SELECT DISTINCT user_id, epoch_us(ts) // {DAY_US} AS day_id FROM events
    ),
    cohort AS (
      SELECT user_id, min(day_id) AS cohort_day FROM ud GROUP BY user_id
    )
    SELECT cohort_day // 7 AS cohort_week,
           (day_id - cohort_day) // 7 AS week_offset,
           count(DISTINCT ud.user_id) AS n_users
    FROM ud JOIN cohort USING (user_id)
    GROUP BY 1, 2
    """,
)
def q_ts_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by the week of their first
    activity, counted once per week-offset they return in — the
    triangular retention matrix behind every growth dashboard.

    Scale shape: the distinct (user, day) projection collapses the raw
    stream first (the only pass over full data), then every later step
    is keyed on user_id with one small join; integer day/week math on
    microseconds keeps both engines bit-identical."""
    e = table(spark, sf_dir, "events").select(
        "user_id", F.expr(f"unix_micros(ts) div {DAY_US}").alias("day_id")
    )
    ud = e.distinct()
    cohort = ud.groupBy("user_id").agg(F.min("day_id").alias("cohort_day"))
    return (
        ud.join(cohort, "user_id")
        .groupBy(
            F.expr("cohort_day div 7").alias("cohort_week"),
            F.expr("(day_id - cohort_day) div 7").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@query(
    "q_join_interval",
    oracle="""
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           count(*) AS n_pairs
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 5 MINUTE
    GROUP BY 1, 2
    """,
)
def q_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval self-join on the event stream: ordered pairs of events
    by the SAME user within a 5-minute window, counted per event-type
    transition — the co-occurrence matrix behind session stitching and
    next-event models.

    Scale shape: unlike the keyless range join (q_join_range_bucketed),
    this has an equi key — user_id — so it plans as one ordinary
    shuffle/broadcast hash join with the time band as a residual
    filter. Pair blowup is bounded per user by event density within the
    window; a pathological hot user is ordinary join skew (AQE split or
    salted_join). No time-bucketing machinery is needed BECAUSE the
    equi key already confines the candidate space."""
    from spark_clustering_spark.io import spread

    # spread the shared scan: both join sides' shuffle writes (and the
    # per-pair residual filter) otherwise serialize in one scan task
    e = spread(
        table(spark, sf_dir, "events").select("user_id", "ts", "event_type"),
        "user_id",
    )
    a = e.alias("a")
    b = e.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.ts") > F.col("a.ts"))
            & (
                F.col("b.ts")
                <= F.col("a.ts") + F.expr("INTERVAL 5 MINUTES")
            ),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@query(
    "q_ts_anomaly",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hour, count(*) AS cnt
      FROM events GROUP BY 1
    ),
    framed AS (
      SELECT hour, cnt,
             count(*) OVER w AS n,
             sum(cast(cnt AS DECIMAL(38,8))) OVER w AS s,
             sum(cast(cnt AS DECIMAL(38,8)) * cast(cnt AS DECIMAL(38,8))) OVER w AS ss
      FROM hourly
      WINDOW w AS (ORDER BY hour ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
    )
    SELECT strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour, cnt,
           cast(cast(round(cast(cast((
             CASE WHEN n >= 12 AND (cast(cast(ss AS VARCHAR) AS DOUBLE) - cast(cast(s AS VARCHAR) AS DOUBLE) * cast(cast(s AS VARCHAR) AS DOUBLE) / n) / (n - 1) > 0
                  THEN (cnt - cast(cast(s AS VARCHAR) AS DOUBLE) / n)
                       / sqrt((cast(cast(ss AS VARCHAR) AS DOUBLE) - cast(cast(s AS VARCHAR) AS DOUBLE) * cast(cast(s AS VARCHAR) AS DOUBLE) / n) / (n - 1))
                  ELSE 0.0 END) AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS zscore
    FROM framed
    """,
)
def q_ts_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection over hourly event volume: each
    hour scored against the trailing 24-hour window (warm-up hours and
    zero-variance windows score 0). The monitoring primitive behind
    rate-spike alerts.

    Cross-engine determinism: the rolling mean/variance come from
    EXACT decimal window sums of cnt and cnt² (not stddev_samp, whose
    internal accumulation differs between engines); the float math
    happens once, on identical inputs, after the window.

    Scale: the hourly pre-aggregate reduces the stream to
    hours-cardinality before any window; the single unpartitioned
    window is over that tiny series (at 100 TB, partition the window by
    entity/tenant — the per-key form of this exact query)."""
    from spark_clustering_spark.functions.detagg import DEC

    e = table(spark, sf_dir, "events")
    hourly = (
        e.groupBy(F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy("hour").rowsBetween(-23, 0)
    cdec = F.col("cnt").cast(DEC)
    framed = hourly.select(
        "hour",
        "cnt",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(cdec).over(w).alias("s"),
        F.sum(cdec * cdec).over(w).alias("ss"),
    )
    s, ss, n = (
        F.col("s").cast("double"),
        F.col("ss").cast("double"),
        F.col("n"),
    )
    var = (ss - s * s / n) / (n - 1)
    z = F.when(
        (n >= 12) & (var > 0), (F.col("cnt") - s / n) / F.sqrt(var)
    ).otherwise(F.lit(0.0))
    return framed.select(
        F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "cnt",
        dround(z).alias("zscore"),
    )


@query(
    "q_ts_session_summary",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, ts_us,
             CASE WHEN lag(ts_us) OVER w IS NULL
                    OR ts_us - lag(ts_us) OVER w > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    sess AS (
      SELECT user_id, ts_us,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::INT
               AS session_idx
      FROM flagged
    ),
    per_session AS (
      SELECT user_id, session_idx, count(*) AS n_events,
             (max(ts_us) - min(ts_us)) // 1000000 AS dur_s
      FROM sess GROUP BY user_id, session_idx
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(max(n_events) AS BIGINT) AS max_events,
           cast(cast(round(sum(cast(dur_s AS DECIMAL(38,8))), 4) AS VARCHAR) AS DOUBLE)
             / count(*) AS avg_dur_s
    FROM per_session GROUP BY user_id
    """,
)
def q_ts_session_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user engagement summary COMPOSED on the sessionization
    operator: session count, the largest session, and mean session
    duration — the roll-up an activity dashboard reads. Durations are
    integral seconds, so the mean divides an exact decimal sum by an
    exact count (order-proof).

    Scale: all three window/aggregate levels (session flag → per-
    session → per-user) key on user_id, so the whole chain rides the
    sessionize operator's single hash exchange."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lag_us = F.lag("ts_us").over(w)
    is_new = F.when(
        lag_us.isNull() | (F.col("ts_us") - lag_us > SESSION_GAP_US), 1
    ).otherwise(0)
    sess = e.withColumn("is_new", is_new).withColumn(
        "session_idx", F.sum("is_new").over(w_run).cast("int")
    )
    per_session = sess.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        ((F.max("ts_us") - F.min("ts_us")) / F.lit(1_000_000))
        .cast("bigint")
        .alias("dur_s"),
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("n_events").alias("max_events"),
        (
            F.round(F.sum(F.col("dur_s").cast("decimal(38,8)")), 4).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("avg_dur_s"),
    )


EWMA_ALPHA = 0.3   # smoothing factor; weight of the bucket j hours back
EWMA_SPAN = 24     # trailing window (hours) the weights are truncated to


@query(
    "q_ts_ewma",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS cnt
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.event_type, a.hour, a.cnt,
             date_diff('hour', b.hour, a.hour) AS j, b.cnt AS bcnt
      FROM hourly a JOIN hourly b
        ON a.event_type = b.event_type
       AND b.hour <= a.hour
       AND b.hour > a.hour - INTERVAL {EWMA_SPAN} HOUR
    ),
    agg AS (
      SELECT event_type, hour, cnt,
             cast(cast(sum(cast(bcnt * pow({1 - EWMA_ALPHA}, j)
                  AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS num,
             cast(cast(sum(cast(pow({1 - EWMA_ALPHA}, j)
                  AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS den
      FROM pairs GROUP BY 1, 2, 3
    )
    SELECT event_type, strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour, cnt,
           cast(cast(round(cast(cast((num / den) AS VARCHAR)
                AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS ewma
    FROM agg
    """,
)
def q_ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of hourly event volume per
    event type, truncated to the trailing {EWMA_SPAN}-hour span:
    ewma_t = Σ_j (1−α)^j·x_(t−j) / Σ_j (1−α)^j over the hours that
    actually exist in the span (missing hours contribute neither term,
    the sparse-series convention). The trend-smoothing primitive
    behind rate dashboards and drift alerts — complements
    q_ts_anomaly's rolling z-score.

    Determinism: each (1−α)^j weight and each weighted term is one
    double expression from integer inputs, rounded into DECIMAL(38,8)
    before the order-ambiguous sums (detagg discipline); the final
    division happens once on identical doubles.

    Scale: weights depend on the HOUR GAP, not the row offset, so a
    ROWS frame would mis-weight sparse series; instead this is a
    trailing interval self-join on the hours-cardinality pre-aggregate
    (amplification bounded by {EWMA_SPAN}, same shape as
    q_join_interval), co-partitioned on event_type — never on the raw
    event stream."""
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    a = hourly.select(
        "event_type", "hour", "cnt"
    )
    b = hourly.select(
        F.col("event_type").alias("b_type"),
        F.col("hour").alias("b_hour"),
        F.col("cnt").alias("bcnt"),
    )
    j = (
        (F.unix_timestamp("hour") - F.unix_timestamp("b_hour")) / 3600
    ).cast("int")
    pairs = a.join(
        b,
        (F.col("event_type") == F.col("b_type"))
        & (F.col("b_hour") <= F.col("hour"))
        & (F.col("b_hour") > F.col("hour") - F.expr(f"INTERVAL {EWMA_SPAN} HOURS")),
    ).select("event_type", "hour", "cnt", j.alias("j"), "bcnt")
    wgt = F.pow(F.lit(1 - EWMA_ALPHA), F.col("j"))
    agg = pairs.groupBy("event_type", "hour", "cnt").agg(
        F.sum((F.col("bcnt") * wgt).cast("decimal(38,8)"))
        .cast("double")
        .alias("num"),
        F.sum(wgt.cast("decimal(38,8)")).cast("double").alias("den"),
    )
    return agg.select(
        "event_type",
        F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "cnt",
        dround(F.col("num") / F.col("den")).alias("ewma"),
    )


@query(
    "q_ts_concurrency",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, ts_us,
             CASE WHEN lag(ts_us) OVER w IS NULL
                    OR ts_us - lag(ts_us) OVER w > {{gap}}
                  THEN 1 ELSE 0 END AS is_new
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    sess AS (
      SELECT user_id,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::INT
               AS session_idx,
             ts_us
      FROM flagged
    ),
    spans AS (
      SELECT user_id, session_idx,
             min(ts_us) AS start_us, max(ts_us) AS end_us
      FROM sess GROUP BY 1, 2
    ),
    deltas AS (
      SELECT start_us AS t_us, 1 AS delta, user_id, session_idx FROM spans
      UNION ALL
      SELECT end_us + {{gap}} AS t_us, -1 AS delta, user_id, session_idx
      FROM spans
    )
    SELECT t_us, CAST(delta AS INT) AS delta,
           CAST(sum(delta) OVER (ORDER BY t_us, delta, user_id, session_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS concurrent
    FROM deltas
    """.format(gap=SESSION_GAP_US),
)
def q_ts_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line concurrency: sessionize per user (30-min gap), emit
    +1 at each session start and −1 at its expiry (end + gap — a
    session holds its slot until it would have timed out), and the
    running sum over the globally ordered change points IS the number
    of concurrently active sessions — the "peak concurrent users" /
    capacity-planning analytic. Ends sort before starts at the same
    instant via delta ordering (−1 < +1), with (user, session)
    tiebreaks making every prefix deterministic. Pure integers.

    Scale: sessionization and span extraction shuffle on user_id; the
    change-point stream (2 rows per session — data-proportional) is
    swept by ``global_running_agg``: sliced by literal time cuts with
    per-slice carry-in offsets, never a single-reducer window."""
    e = table(spark, sf_dir, "events")
    gap = SESSION_GAP_US
    ts_us = (F.unix_micros(F.col("ts"))).alias("ts_us")
    base = e.select("user_id", "event_id", ts_us)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    flagged = base.withColumn(
        "is_new",
        F.when(
            F.lag("ts_us").over(w).isNull()
            | (F.col("ts_us") - F.lag("ts_us").over(w) > gap),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_idx",
        F.sum("is_new")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("int"),
    )
    spans = sess.groupBy("user_id", "session_idx").agg(
        F.min("ts_us").alias("start_us"), F.max("ts_us").alias("end_us")
    )
    starts = spans.select(
        F.col("start_us").alias("t_us"),
        F.lit(1).alias("delta"),
        "user_id",
        "session_idx",
    )
    ends = spans.select(
        (F.col("end_us") + gap).alias("t_us"),
        F.lit(-1).alias("delta"),
        "user_id",
        "session_idx",
    )
    deltas = starts.unionByName(ends)
    from spark_clustering_spark.operators.windows import global_running_agg

    swept, _ = global_running_agg(
        deltas,
        [F.col("t_us"), F.col("delta"), F.col("user_id"), F.col("session_idx")],
        {"concurrent": ("sum", F.col("delta").cast("bigint"))},
    )
    return swept.select(
        "t_us",
        F.col("delta").cast("int").alias("delta"),
        F.col("concurrent").cast("bigint").alias("concurrent"),
    )


ATTR_WINDOW_US = 60 * 60 * 1_000_000  # 1-hour attribution lookback


@query(
    "q_ts_attribution",
    oracle=f"""
    WITH p AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
      FROM events WHERE event_type = 'purchase'
    ),
    t AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
      FROM events WHERE event_type IN ('view', 'click')
    ),
    touched AS (
      SELECT p.event_id, p.value, t.event_type AS touch_type
      FROM p JOIN t
        ON t.user_id = p.user_id
       AND t.ts_us <= p.ts_us
       AND t.ts_us > p.ts_us - {ATTR_WINDOW_US}
      QUALIFY row_number() OVER (PARTITION BY p.event_id
        ORDER BY t.ts_us DESC, t.event_id DESC) = 1
    ),
    n_purch AS (SELECT count(*) AS total FROM p)
    SELECT touch_type,
           count(*) AS n_attributed,
           cast(cast(round(sum(cast(value AS DECIMAL(38,8))), 4) AS VARCHAR) AS DOUBLE)
             AS attributed_value,
           cast(cast(round(cast(cast((cast(count(*) AS DOUBLE) / max(np.total))
                AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE)
             AS share_of_purchases
    FROM touched CROSS JOIN n_purch np
    GROUP BY touch_type
    """,
)
def q_ts_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the most recent
    view/click of the same user within the trailing hour (ties break
    on event_id), rolled up to attributed purchase counts and value
    per touch type — the marketing analytic downstream of the funnel
    (q_ts_funnel tells you users convert; attribution tells you which
    touch gets the credit). Unattributed purchases (no touch in
    window) drop out, so share_of_purchases exposes the attribution
    coverage.

    Determinism: the per-purchase argmax is fully tie-broken; value
    sums are exact decimal; the share is one double division.

    Scale: the purchase↔touch join carries the user equality (hash/
    merge join, never a nested loop) with the time bounds as
    residuals; per-purchase candidates are bounded by per-user
    touch rate × window."""
    e = table(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts"))
    p = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", ts_us.alias("ts_us"), "value"
    )
    t = e.filter(F.col("event_type").isin("view", "click")).select(
        F.col("event_id").alias("t_id"),
        F.col("user_id").alias("t_user"),
        ts_us.alias("t_ts"),
        F.col("event_type").alias("touch_type"),
    )
    joined = p.join(
        t,
        (F.col("t_user") == F.col("user_id"))
        & (F.col("t_ts") <= F.col("ts_us"))
        & (F.col("t_ts") > F.col("ts_us") - ATTR_WINDOW_US),
    )
    w = Window.partitionBy("event_id").orderBy(
        F.col("t_ts").desc(), F.col("t_id").desc()
    )
    touched = (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "value", "touch_type")
    )
    total = p.count()
    return touched.groupBy("touch_type").agg(
        F.count(F.lit(1)).alias("n_attributed"),
        F.round(F.sum(F.col("value").cast("decimal(38,8)")), 4)
        .cast("double")
        .alias("attributed_value"),
        dround(F.count(F.lit(1)).cast("double") / F.lit(float(total))).alias(
            "share_of_purchases"
        ),
    )


@query(
    "q_ts_time_to_convert",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS v,
             min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p
      FROM events GROUP BY user_id
    ),
    ttc AS (
      SELECT user_id, (p - v) / 1000000 AS sec
      FROM firsts WHERE v IS NOT NULL AND p IS NOT NULL AND p >= v
    )
    SELECT count(*) AS n_converted,
           cast(cast(round(cast(cast((quantile_cont(sec, 0.5)) AS VARCHAR)
                AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS p50_sec,
           cast(cast(round(cast(cast((quantile_cont(sec, 0.9)) AS VARCHAR)
                AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS p90_sec
    FROM ttc
    """,
)
def q_ts_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per user, seconds from FIRST view
    to FIRST purchase (users whose first purchase precedes any view
    drop out — they converted through another door), summarized as the
    conversion count and exact interpolated p50/p90 latencies. The
    companion metric to q_ts_funnel's conversion RATE: the funnel says
    how many convert, this says how long conversion takes.

    Determinism: first-event times are integer microsecond mins;
    Spark percentile and DuckDB quantile_cont both sort-and-
    interpolate, bit-identically (q_agg_percentile precedent).

    Scale: one (user, partial-mins) aggregate — the conditional mins
    combine map-side; the percentile buffers only converted-user
    latencies (user-cardinality upper bound)."""
    e = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    firsts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", us)).alias("v"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("p"),
    )
    ttc = firsts.filter(
        F.col("v").isNotNull() & F.col("p").isNotNull() & (F.col("p") >= F.col("v"))
    ).select(((F.col("p") - F.col("v")) / 1_000_000).alias("sec"))
    pcts = F.percentile("sec", F.array(F.lit(0.5), F.lit(0.9)))
    return ttc.agg(
        F.count(F.lit(1)).alias("n_converted"), pcts.alias("ps")
    ).select(
        "n_converted",
        dround(F.col("ps")[0]).alias("p50_sec"),
        dround(F.col("ps")[1]).alias("p90_sec"),
    )


@query(
    "q_ts_seasonality",
    oracle=f"""
    WITH e AS (
      SELECT ((epoch_us(ts) // {DAY_US} + 4) % 7)::INT AS dow,
             ((epoch_us(ts) // {HOUR_US}) % 24)::INT AS hod,
             value
      FROM events
    ),
    cell AS (
      SELECT dow, hod, count(*) AS n_events, {sql_dsum('value', 'sum_value')}
      FROM e GROUP BY dow, hod
    ),
    tot AS (SELECT sum(n_events) AS total FROM cell)
    SELECT dow, hod, n_events, sum_value,
           {sql_dround('cast(n_events AS DOUBLE) / t.total', 6)} AS share
    FROM cell CROSS JOIN tot t
    """,
)
def q_ts_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality / load profile: the (day-of-week x hour-of-day)
    traffic matrix with each cell's share of total events — the
    capacity-planning and anomaly-baseline analytic. Bucketing is pure
    integer arithmetic on epoch microseconds (UTC; epoch day 0 was a
    Thursday, hence the +4 fold to dow 0=Monday..6=Sunday), so no
    calendar/timezone library can diverge between engines.

    Scale: one partial+final hash aggregate down to <=168 cells; the
    grand total broadcasts back as a one-row cross join — nothing
    data-proportional passes a window or a single reducer."""
    e = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    cell = (
        e.select(
            ((F.floor(us / DAY_US) + 4) % 7).cast("int").alias("dow"),
            (F.floor(us / HOUR_US) % 24).cast("int").alias("hod"),
            "value",
        )
        .groupBy("dow", "hod")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "sum_value"),
        )
    )
    tot = cell.agg(F.sum("n_events").alias("total"))
    return cell.crossJoin(F.broadcast(tot)).select(
        "dow",
        "hod",
        "n_events",
        "sum_value",
        dround(F.col("n_events").cast("double") / F.col("total"), 6).alias(
            "share"
        ),
    )


CUSUM_K = 0.5   # slack per step, in σ units
CUSUM_H = 4.0   # alarm threshold, in σ units


@query(
    "q_ts_changepoint",
    oracle=f"""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             cast(cast(round(sum(cast(value AS DECIMAL(38,8))), 4) AS VARCHAR) AS DOUBLE)
               AS x
      FROM events GROUP BY 1
    ),
    stats AS (
      SELECT count(*) AS n,
             cast(cast(sum(cast(x AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS s,
             cast(cast(sum(cast(x AS DECIMAL(38,8)) * cast(x AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS ss
      FROM daily
    ),
    z AS (
      SELECT day, x,
             cast(round(cast(cast((
               CASE WHEN (ss - s * s / n) / n > 0
                    THEN (x - s / n) / sqrt((ss - s * s / n) / n)
                    ELSE 0.0 END) AS VARCHAR) AS DECIMAL(38,12)), 4)
               AS DECIMAL(38,8)) AS z4
      FROM daily CROSS JOIN stats
    ),
    w AS (
      SELECT day, z4,
             sum(z4 - {CUSUM_K}) OVER o AS wpos,
             sum(-z4 - {CUSUM_K}) OVER o AS wneg
      FROM z WINDOW o AS (ORDER BY day
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    s AS (
      SELECT day, z4,
             wpos - least(cast(0 AS DECIMAL(38,8)),
                          min(wpos) OVER o) AS s_pos,
             wneg - least(cast(0 AS DECIMAL(38,8)),
                          min(wneg) OVER o) AS s_neg
      FROM w WINDOW o AS (ORDER BY day
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           cast(cast(z4 AS VARCHAR) AS DOUBLE) AS zscore,
           cast(round(s_pos, 4) AS DOUBLE) AS s_pos,
           cast(round(s_neg, 4) AS DOUBLE) AS s_neg,
           (s_pos > {CUSUM_H} OR s_neg > {CUSUM_H}) AS is_change
    FROM s
    """,
)
def q_ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection over the daily event-value series
    (Page 1954): standardize each day against the whole series, then
    track the one-sided cumulative sums S±_t = max(0, S±_{t-1} ± z_t −
    k) and alarm when either exceeds h — the standard drift detector
    for metric regressions and data-quality monitoring.

    The recursion is rewritten into its closed form S_t = W_t −
    min(0, min_{j≤t} W_j) with W the plain prefix sum of (±z − k), so
    the whole operator is two stock window aggregates — no recursive
    UDF, no iterative loop, and the same rewrite serves any engine
    (the oracle runs it verbatim).

    Determinism: z is rounded to 4 dp FIRST and the prefix sums then
    accumulate in exact DECIMAL(38,8) — window running sums over
    doubles are NOT order-proof across engines (DuckDB evaluates
    window aggregates through a segment tree whose addition order
    differs from Spark's sequential frame scan); in decimal the order
    is irrelevant. The alarm compare also happens in decimal.

    Scale: the only data-proportional pass is the daily pre-aggregate
    (map-side combined). Every window after it runs over the
    days-cardinality series — bounded, like q_ts_anomaly; the per-key
    production form partitions all three windows by entity."""
    from spark_clustering_spark.functions.detagg import DEC, dround, dsum

    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        dsum("value", "x")
    )
    xdec = F.col("x").cast(DEC)
    stats = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xdec).cast("double").alias("s"),
        F.sum(xdec * xdec).cast("double").alias("ss"),
    )
    j = daily.crossJoin(F.broadcast(stats))
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    var = (ss - s * s / n) / n
    z = F.when(var > 0, (F.col("x") - s / n) / F.sqrt(var)).otherwise(
        F.lit(0.0)
    )
    zd = j.select("day", dround(z).cast(DEC).alias("z4"))
    run = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    k = F.lit(CUSUM_K).cast(DEC)
    w = zd.select(
        "day",
        "z4",
        F.sum(F.col("z4") - k).over(run).alias("wpos"),
        F.sum(-F.col("z4") - k).over(run).alias("wneg"),
    )
    zero = F.lit(0).cast(DEC)
    sdf = w.select(
        "day",
        "z4",
        (F.col("wpos") - F.least(zero, F.min("wpos").over(run))).alias(
            "s_pos"
        ),
        (F.col("wneg") - F.least(zero, F.min("wneg").over(run))).alias(
            "s_neg"
        ),
    )
    h = F.lit(CUSUM_H).cast(DEC)
    return sdf.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("z4").cast("double").alias("zscore"),
        F.round("s_pos", 4).cast("double").alias("s_pos"),
        F.round("s_neg", 4).cast("double").alias("s_neg"),
        ((F.col("s_pos") > h) | (F.col("s_neg") > h)).alias("is_change"),
    )


ACF_MAX_LAG = 7


@query(
    "q_ts_acf",
    oracle=f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '2024-01-01', cast(date_trunc('day', ts) AS DATE))
               AS idx,
             cast(cast(round(sum(cast(value AS DECIMAL(38,8))), 4) AS VARCHAR) AS DOUBLE) AS x
      FROM events GROUP BY 1
    ),
    stats AS (
      SELECT count(*) AS n,
             cast(cast(sum(cast(x AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) / count(*) AS mu
      FROM daily
    ),
    dev AS (
      SELECT d.idx, d.x - s.mu AS e FROM daily d CROSS JOIN stats s
    ),
    denom AS (
      SELECT cast(cast(sum(cast(e * e AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS ss FROM dev
    ),
    lags AS (SELECT unnest(range(1, {ACF_MAX_LAG + 1})) AS lag),
    num AS (
      SELECT l.lag,
             count(*) AS n_pairs,
             cast(cast(sum(cast(a.e * b.e AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS sp
      FROM lags l
      JOIN dev a ON TRUE
      JOIN dev b ON b.idx = a.idx + l.lag
      GROUP BY l.lag
    )
    SELECT cast(num.lag AS BIGINT) AS lag,
           cast(num.n_pairs AS BIGINT) AS n_pairs,
           cast(cast(round(cast(cast((num.sp / denom.ss) AS VARCHAR)
                AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS acf
    FROM num CROSS JOIN denom
    """,
)
def q_ts_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily event-value series for
    lags 1..{ACF_MAX_LAG}: r_ℓ = Σ(x_t−μ)(x_{t+ℓ}−μ) / Σ(x_t−μ)² — the
    diagnostic that tells you WHICH period to deseasonalize before
    forecasting (a weekly cycle shows as a spike at lag 7; cf.
    q_ts_seasonality's profile and q_olap_forecast_revenue's trend
    fit). One row per lag with the pair count that supports it.

    Determinism: day indices are integer datediffs; deviations are
    doubles from one identical μ; every cross-product accumulates in
    exact DECIMAL(38,8); the single division goes through dround.

    Scale: the fact-sized pass is the daily pre-aggregate; everything
    after runs on the days-cardinality series (the q_ts_anomaly
    bounded-series precedent). The lag self-join is an integer equi
    join — per-entity production form adds the entity to both join
    keys and the window stays bounded per key."""
    from spark_clustering_spark.functions.detagg import DEC, dround, dsum

    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.datediff(F.date_trunc("day", "ts"), F.lit("2024-01-01")).alias("idx")
    ).agg(dsum("value", "x"))
    stats = daily.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.col("x").cast(DEC)).cast("double") / F.count(F.lit(1))).alias(
            "mu"
        ),
    )
    dev = daily.crossJoin(F.broadcast(stats)).select(
        "idx", (F.col("x") - F.col("mu")).alias("e")
    )
    denom = dev.agg(
        F.sum((F.col("e") * F.col("e")).cast(DEC)).cast("double").alias("ss")
    )
    lags = spark.range(1, ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = dev.select(F.col("idx").alias("ia"), F.col("e").alias("ea"))
    b = dev.select(F.col("idx").alias("ib"), F.col("e").alias("eb"))
    num = (
        F.broadcast(lags)
        .join(a, how="cross")
        .join(b, F.col("ib") == F.col("ia") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum((F.col("ea") * F.col("eb")).cast(DEC))
            .cast("double")
            .alias("sp"),
        )
    )
    return num.crossJoin(F.broadcast(denom)).select(
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        dround(F.col("sp") / F.col("ss"), 6).alias("acf"),
    )


@query(
    "q_ts_markov",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id FROM events
    ),
    seq AS (
      SELECT user_id, event_type AS next_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts_us, event_id) AS prev_type
      FROM e
    ),
    pairs AS (
      SELECT prev_type, next_type, count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, next_type
    ),
    outdeg AS (
      SELECT prev_type, sum(n) AS tot FROM pairs GROUP BY prev_type
    )
    SELECT p.prev_type, p.next_type, p.n,
           cast(cast(round(cast(cast(
             (cast(p.n AS DOUBLE) / o.tot) AS VARCHAR) AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS prob
    FROM pairs p JOIN outdeg o USING (prev_type)
    """,
)
def q_ts_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: for each
    ordered pair of consecutive events per user, the empirical
    P(next event type | current event type) — the behavioral-analytics
    primitive behind "what do users do after an error?".

    Determinism: the per-user sequence is pinned by (ts, event_id);
    probabilities are one double division of exact counts.

    Scale: one shuffle keyed user_id for the lag window (user-partitioned,
    never global), then aggregation straight down to the |types|² matrix;
    row-normalization happens on that tiny table."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    pairs = seq.groupBy("prev_type", "next_type").agg(F.count(F.lit(1)).alias("n"))
    outdeg = pairs.groupBy("prev_type").agg(F.sum("n").alias("tot"))
    return (
        pairs.join(F.broadcast(outdeg), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "n",
            dround(F.col("n").cast("double") / F.col("tot"), 6).alias("prob"),
        )
    )


@query(
    "q_ts_resample_ohlc",
    oracle=f"""
    WITH e AS (
      SELECT epoch_us(ts) // {HOUR_US} AS hour_id, ts, event_id, value
      FROM events
    ),
    r AS (
      SELECT hour_id, value,
             row_number() OVER (PARTITION BY hour_id
                                ORDER BY ts, event_id) AS rf,
             row_number() OVER (PARTITION BY hour_id
                                ORDER BY ts DESC, event_id DESC) AS rl
      FROM e
    ),
    agg AS (
      SELECT hour_id, count(*) AS n_events,
             max(value) AS high, min(value) AS low,
             {sql_dsum('value', 'volume')}
      FROM e GROUP BY hour_id
    )
    SELECT agg.hour_id, agg.n_events,
           o.value AS open, agg.high, agg.low, c.value AS close,
           agg.volume
    FROM agg
    JOIN (SELECT hour_id, value FROM r WHERE rf = 1) o USING (hour_id)
    JOIN (SELECT hour_id, value FROM r WHERE rl = 1) c USING (hour_id)
    """,
)
def q_ts_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC downsample of the event stream — the canonical
    tick-to-bar resample (finance candlesticks, metrics rollups):
    per hour bucket, the first and last value in (ts, event_id) order
    (open/close — the unique event_id breaks timestamp ties, so the
    bars are rerun-deterministic), the min/max (low/high), the exact
    decimal volume, and the event count.

    Scale: ONE partial+final hash aggregate — open/close ride the same
    pass as min/max via MAX_BY/MIN_BY keyed on the (ts, event_id)
    struct (order-free "first" semantics: the executors keep one
    running champion per bucket, merged associatively, so no
    per-bucket sort and no window materializes the raw ticks). The
    oracle expresses the same bars with per-hour row_number windows —
    hour-partitioned, which is also scale-safe, but the MIN_BY
    formulation halves the shuffled bytes (bars only, never ranked
    ticks)."""
    e = table(spark, sf_dir, "events").select(
        F.expr(f"unix_micros(ts) div {HOUR_US}").alias("hour_id"),
        F.struct("ts", "event_id").alias("ord"),
        "value",
    )
    from spark_clustering_spark.functions.detagg import DEC

    return e.groupBy("hour_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min_by("value", "ord").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", "ord").alias("close"),
        dsum("value", "volume"),
    )


MED_W = 7  # rolling-median window (rows), matching the weekly cycle


@query(
    "q_ts_rolling_median",
    oracle=f"""
    WITH daily AS (
      SELECT epoch_us(ts) // {DAY_US} AS day_id,
             {sql_dsum('value', 'x')}
      FROM events GROUP BY 1
    )
    SELECT day_id, x,
           {sql_dround(f'''median(x) OVER (
             ORDER BY day_id ROWS BETWEEN {MED_W - 1} PRECEDING
             AND CURRENT ROW)''', 4)} AS med{MED_W}
    FROM daily
    """,
)
def q_ts_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling {MED_W}-day median of the daily value series — the
    robust trend line (immune to single-day spikes that drag a rolling
    mean, the standard anomaly-baseline smoother). Median over an even
    prefix interpolates the middle pair, matching DuckDB's window
    median.

    Scale: the raw stream collapses to ONE row per calendar day via a
    map-side-combined aggregate first; the ordered window then runs
    over that bounded series (days grow with wall-clock coverage, not
    data volume — the same provably-bounded-window argument as
    q_ts_acf/q_ts_gapfill). Spark has no exact median window function,
    so the frame materializes as a sorted {MED_W}-element array per
    row — constant work per day."""
    from spark_clustering_spark.functions.detagg import DEC

    daily = (
        table(spark, sf_dir, "events")
        .select(F.expr(f"unix_micros(ts) div {DAY_US}").alias("day_id"), "value")
        .groupBy("day_id")
        .agg(dround(F.sum(F.col("value").cast(DEC)).cast("double"), 4).alias("x"))
    )
    w = Window.orderBy("day_id").rowsBetween(-(MED_W - 1), Window.currentRow)
    arr = F.array_sort(F.collect_list("x").over(w))
    n = F.size(arr)
    lo = F.element_at(arr, ((n + 1) / 2).cast("int"))
    hi = F.element_at(arr, (n / 2 + 1).cast("int"))
    return daily.select(
        "day_id",
        "x",
        dround((lo + hi) / 2.0, 4).alias(f"med{MED_W}"),
    )


XCORR_MAX_LAG = 3  # lead/lag horizon in days
XCORR_X = "view"       # leading series
XCORR_Y = "purchase"   # lagging series


@query(
    "q_ts_xcorr",
    oracle=f"""
    WITH daily AS (
      SELECT epoch_us(ts) // {DAY_US} AS day_id, event_type,
             count(*) AS n
      FROM events WHERE event_type IN ('{XCORR_X}', '{XCORR_Y}')
      GROUP BY 1, 2
    ),
    x AS (SELECT day_id, n AS vx FROM daily WHERE event_type = '{XCORR_X}'),
    y AS (SELECT day_id, n AS vy FROM daily WHERE event_type = '{XCORR_Y}'),
    lags AS (SELECT unnest(range(-{XCORR_MAX_LAG}, {XCORR_MAX_LAG + 1}))
               AS lag),
    j AS (
      SELECT l.lag, x.vx, y.vy
      FROM lags l
      JOIN x ON TRUE
      JOIN y ON y.day_id = x.day_id + l.lag
    ),
    s AS (
      SELECT lag, count(*) AS n,
             sum(vx) AS sx, sum(vy) AS sy,
             sum(vx * vy) AS sxy, sum(vx * vx) AS sxx,
             sum(vy * vy) AS syy
      FROM j GROUP BY lag
    )
    SELECT lag::INT AS lag, n::BIGINT AS n_days,
           {sql_dround(
             "(n * sxy - sx * sy) / sqrt("
             "(n * sxx - sx * sx)::DOUBLE * (n * syy - sy * sy)::DOUBLE)",
             6)} AS xcorr
    FROM s
    """,
)
def q_ts_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead/lag cross-correlation between the daily '{XCORR_X}' and
    '{XCORR_Y}' series at lags −{XCORR_MAX_LAG}..{XCORR_MAX_LAG}:
    corr(x_t, y_(t+lag)) — does one series lead the other (the
    leading-indicator scan that pairs with q_ts_acf's self-correlation).
    Counts are integers, so every sufficient statistic is EXACT integer
    arithmetic end-to-end; only the final Pearson ratio touches floats
    (one fixed-order double expression).

    Scale: the raw stream collapses to two bounded daily series first
    (map-side-combined aggregate, the q_ts_acf boundedness argument);
    the 2·{XCORR_MAX_LAG}+1 lags expand via a literal cross join over
    the SERIES (not the stream), and the lag alignment is an integer
    equi-join on the shifted day id. Nothing data-proportional passes
    a window or single reducer."""
    e = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(XCORR_X, XCORR_Y))
        .select(
            F.expr(f"unix_micros(ts) div {DAY_US}").alias("day_id"),
            "event_type",
        )
        .groupBy("day_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    x = e.filter(F.col("event_type") == XCORR_X).select(
        "day_id", F.col("n").alias("vx")
    )
    y = e.filter(F.col("event_type") == XCORR_Y).select(
        F.col("day_id").alias("y_day"), F.col("n").alias("vy")
    )
    lags = spark.range(-XCORR_MAX_LAG, XCORR_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    j = (
        x.crossJoin(F.broadcast(lags))
        .join(y, F.col("y_day") == F.col("day_id") + F.col("lag"))
    )
    s = j.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vx").alias("sx"),
        F.sum("vy").alias("sy"),
        F.sum(F.col("vx") * F.col("vy")).alias("sxy"),
        F.sum(F.col("vx") * F.col("vx")).alias("sxx"),
        F.sum(F.col("vy") * F.col("vy")).alias("syy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return s.select(
        F.col("lag").cast("int").alias("lag"),
        n.cast("bigint").alias("n_days"),
        dround(
            (n * sxy - sx * sy)
            / F.sqrt(
                (n * sxx - sx * sx).cast("double")
                * (n * syy - sy * sy).cast("double")
            ),
            6,
        ).alias("xcorr"),
    )


@query(
    "q_ts_peaks",
    oracle=f"""
    WITH daily AS (
      SELECT epoch_us(ts) // {DAY_US} AS day_id,
             {sql_dsum('value', 'x')}
      FROM events GROUP BY 1
    ),
    nbr AS (
      SELECT day_id, x,
             lag(x)  OVER (ORDER BY day_id) AS prev_x,
             lead(x) OVER (ORDER BY day_id) AS next_x
      FROM daily
    )
    SELECT day_id, x, prev_x, next_x
    FROM nbr
    WHERE prev_x IS NOT NULL AND next_x IS NOT NULL
      AND x > prev_x AND x > next_x
    """,
)
def q_ts_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-maximum (peak) detection on the daily value series: days
    strictly above both calendar neighbors — the spike-candidate list
    that feeds alerting/annotation (complement of q_ts_anomaly's
    z-score screen: a peak need not be a global outlier). Boundary
    days (no neighbor on one side) are excluded by definition.

    Scale: the stream collapses to the bounded daily series first
    (map-side-combined aggregate — the q_ts_acf boundedness argument);
    the lag/lead window runs over that series only. Comparisons are on
    the 4dp-quantized exact-decimal daily sums, so the strict
    inequalities cannot flap between engines."""
    from spark_clustering_spark.functions.detagg import DEC

    daily = (
        table(spark, sf_dir, "events")
        .select(F.expr(f"unix_micros(ts) div {DAY_US}").alias("day_id"), "value")
        .groupBy("day_id")
        .agg(dround(F.sum(F.col("value").cast(DEC)).cast("double"), 4).alias("x"))
    )
    w = Window.orderBy("day_id")
    nbr = daily.select(
        "day_id",
        "x",
        F.lag("x").over(w).alias("prev_x"),
        F.lead("x").over(w).alias("next_x"),
    )
    return nbr.filter(
        F.col("prev_x").isNotNull()
        & F.col("next_x").isNotNull()
        & (F.col("x") > F.col("prev_x"))
        & (F.col("x") > F.col("next_x"))
    )


MAD_K = 3.5      # modified z-score alarm threshold (Iglewicz–Hoaglin)
MAD_C = 0.6745   # Φ⁻¹(0.75): scales MAD to σ under normality


@query(
    "q_ts_anomaly_mad",
    oracle=f"""
    WITH daily AS (
      SELECT epoch_us(ts) // {DAY_US} AS day_id,
             {sql_dsum('value', 'x')}
      FROM events GROUP BY 1
    ),
    med AS (SELECT median(x) AS m FROM daily),
    mad AS (
      SELECT {sql_dround("median(abs(x - med.m))", 4)} AS mad
      FROM daily CROSS JOIN med
    ),
    scored AS (
      SELECT day_id, x,
             {sql_dround(f"{MAD_C} * (x - med.m) / mad.mad", 4)} AS mz
      FROM daily CROSS JOIN med CROSS JOIN mad
    )
    SELECT day_id, x, mz
    FROM scored WHERE abs(mz) > {MAD_K}
    """,
)
def q_ts_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) anomaly detection on the daily series:
    modified z-score 0.6745·(x−median)/MAD with the Iglewicz–Hoaglin
    |mz| > {MAD_K} alarm — immune to the masking problem of
    q_ts_anomaly's mean/σ score, where one huge spike inflates σ and
    hides the next spike. Exact medians (DuckDB median ≡ sorted-middle
    interpolation, mirrored below), not approximations.

    Scale: the stream reduces to the bounded daily series first; both
    medians compute on that series (here via a sorted-array fold — at
    true scale the same two numbers come from
    q_agg_quantiles_scalable's slice rank machinery, since
    a median IS the p50 of a bounded-or-not series); the scoring pass
    is a projection against two broadcast scalars."""
    from spark_clustering_spark.functions.detagg import DEC

    daily = (
        table(spark, sf_dir, "events")
        .select(F.expr(f"unix_micros(ts) div {DAY_US}").alias("day_id"), "value")
        .groupBy("day_id")
        .agg(dround(F.sum(F.col("value").cast(DEC)).cast("double"), 4).alias("x"))
    )

    def _median(df, col, out):
        arr = F.array_sort(F.collect_list(col))
        n = F.size(arr)
        lo = F.element_at(arr, ((n + 1) / 2).cast("int"))
        hi = F.element_at(arr, (n / 2 + 1).cast("int"))
        return df.agg(((lo + hi) / 2.0).alias(out))

    med = _median(daily, "x", "m")
    dev = daily.crossJoin(F.broadcast(med)).select(
        "day_id", "x", "m", F.abs(F.col("x") - F.col("m")).alias("d")
    )
    mad = _median(dev, "d", "mad_raw").select(
        dround("mad_raw", 4).alias("mad")
    )
    scored = dev.crossJoin(F.broadcast(mad)).select(
        "day_id",
        "x",
        dround(
            F.lit(MAD_C) * (F.col("x") - F.col("m")) / F.col("mad"), 4
        ).alias("mz"),
    )
    return scored.filter(F.abs(F.col("mz")) > MAD_K)


@query(
    "q_ts_interval_merge",
    oracle="""
    WITH ivl AS (
      SELECT user_id, event_id, epoch_us(ts) AS s,
             epoch_us(ts) + cast(floor(value * 60000000.0) AS BIGINT) AS e
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, s, e,
             CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                    OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS is_new
      FROM ivl
    ),
    isl AS (
      SELECT user_id, s, e,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY s, e, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM flagged
    ),
    merged AS (
      SELECT user_id, island, count(*) AS n_events,
             min(s) AS m_start, max(e) AS m_end
      FROM isl GROUP BY user_id, island
    )
    SELECT user_id,
           count(*)::BIGINT AS n_intervals,
           sum(m_end - m_start)::BIGINT AS covered_us,
           sum(n_events)::BIGINT AS n_events
    FROM merged GROUP BY user_id
    """,
)
def q_ts_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval union: each event opens an interval
    [ts, ts + value minutes]; per user, overlapping intervals merge
    into islands (a row starts a new island iff its start exceeds the
    running max end of every earlier interval), and the query reports
    per-user merged-interval count, total covered time, and event
    count — the classic machine-utilization / billable-time operator
    that plain groupBy can't express (union length ≠ sum of lengths
    when intervals overlap).

    Determinism: all interval math is integer microseconds
    (``unix_micros`` ≡ ``epoch_us``; the duration double product goes
    through an explicit floor before the BIGINT cast because Spark
    truncates and DuckDB rounds on double→int casts); outputs are pure
    integers — nothing to hash-flap.

    Scale: both windows PARTITION BY user_id — per-key sorted state,
    never a global single-reducer sort; the island merge is one
    groupBy(user, island) with map-side combine. Skewed users are
    bounded by per-user event counts, the same envelope every
    sessionize query already carries."""
    e = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("s"),
        (
            F.unix_micros(F.col("ts"))
            + F.floor(F.col("value") * 60000000.0).cast("bigint")
        ).alias("e"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "e", "event_id")
    prev_max = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = e.select(
        "user_id",
        "s",
        "e",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1)
        .otherwise(0)
        .alias("is_new"),
        "event_id",
    )
    w2 = Window.partitionBy("user_id").orderBy("s", "e", "event_id")
    isl = flagged.select(
        "user_id",
        "s",
        "e",
        F.sum("is_new")
        .over(w2.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("island"),
    )
    merged = isl.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("s").alias("m_start"),
        F.max("e").alias("m_end"),
    )
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
        F.sum(F.col("m_end") - F.col("m_start"))
        .cast("bigint")
        .alias("covered_us"),
        F.sum("n_events").cast("bigint").alias("n_events"),
    )


FCST_LAG_DAYS = 7  # seasonal-naive horizon: same weekday last week


@query(
    "q_ts_forecast_error",
    oracle=f"""
    WITH d AS (
      SELECT epoch_us(ts) // {DAY_US} AS day_id,
             cast(cast(sum(cast(value AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS actual
      FROM events GROUP BY 1
    ),
    j AS (
      SELECT a.day_id, a.actual, f.actual AS fcst
      FROM d a JOIN d f ON f.day_id = a.day_id - {FCST_LAG_DAYS}
    ),
    e AS (
      SELECT count(*) AS n_days,
             cast(cast(sum(cast(abs(actual - fcst) AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS sae,
             cast(cast(sum(cast(abs(actual - fcst) / abs(actual)
               AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS sape,
             cast(cast(sum(cast(fcst - actual AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS sdiff,
             cast(cast(sum(cast(abs(actual) AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS saa
      FROM j
    )
    SELECT n_days::BIGINT AS n_days,
           {sql_dround('sae / saa', 6)} AS wape,
           {sql_dround('sape / n_days', 6)} AS mape,
           {sql_dround('sdiff / saa', 6)} AS bias
    FROM e
    """,
)
def q_ts_forecast_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-accuracy scorecard for the seasonal-naive baseline
    (forecast(day) = actual(day − 7)) on the daily value series:
    WAPE, MAPE, and relative bias over every day with a
    week-earlier observation — the eval harness every forecasting
    pipeline runs BEFORE trusting a fancier model, and the natural
    consumer of q_olap_forecast_revenue / q_ts_seasonality's outputs.

    Determinism: daily actuals are exact decimal sums cast once to
    double (identical in both engines); per-day error terms are
    fixed-order double expressions re-quantized to DECIMAL before the
    cross-day accumulation (the detagg discipline); each metric is one
    final double division.

    Scale: one map-side-combined groupBy collapses events to the
    bounded day series; the lag alignment is a day-keyed self-join of
    that bounded table (broadcast-sized); the scorecard is a single
    narrow aggregate."""
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.expr(f"unix_micros(ts) div {DAY_US}").alias("day_id")
    ).agg(
        F.sum(F.col("value").cast("decimal(38,8)"))
        .cast("double")
        .alias("actual")
    )
    a = d.alias("a")
    f_ = d.select(
        (F.col("day_id") + FCST_LAG_DAYS).alias("day_id"),
        F.col("actual").alias("fcst"),
    ).alias("f")
    j = a.join(f_, "day_id")
    err = F.col("actual") - F.col("fcst")
    e = j.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.abs(err).cast("decimal(38,8)")).cast("double").alias("sae"),
        F.sum(
            (F.abs(err) / F.abs(F.col("actual"))).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("sape"),
        F.sum((F.col("fcst") - F.col("actual")).cast("decimal(38,8)"))
        .cast("double")
        .alias("sdiff"),
        F.sum(F.abs(F.col("actual")).cast("decimal(38,8)"))
        .cast("double")
        .alias("saa"),
    )
    return e.select(
        F.col("n_days").cast("bigint").alias("n_days"),
        dround(F.col("sae") / F.col("saa"), 6).alias("wape"),
        dround(F.col("sape") / F.col("n_days"), 6).alias("mape"),
        dround(F.col("sdiff") / F.col("saa"), 6).alias("bias"),
    )


SPECTRAL_PERIODS = list(range(2, 15))  # candidate cycles, days
# 6dp trig literals inlined into BOTH engines at build time — no
# runtime libm cos/sin whose last-ulp could diverge cross-engine
import math as _math  # noqa: E402

_COS_W = [
    [int(round(_math.cos(2.0 * _math.pi * k / p) * 1_000_000)) for k in range(p)]
    for p in SPECTRAL_PERIODS
]
_SIN_W = [
    [int(round(_math.sin(2.0 * _math.pi * k / p) * 1_000_000)) for k in range(p)]
    for p in SPECTRAL_PERIODS
]


def _sql_nested(arrs: list[list[int]]) -> str:
    return (
        "["
        + ", ".join(
            "[" + ", ".join(repr(x) for x in a) + "]" for a in arrs
        )
        + "]"
    )


@query(
    "q_ts_spectral_peak",
    oracle=f"""
    WITH d AS (
      SELECT epoch_us(ts) // {DAY_US} AS day_id,
             cast(sum(cast(value AS DECIMAL(38,8))) AS DECIMAL(20,8)) AS actual
      FROM events GROUP BY 1
    ),
    x AS (
      SELECT p, actual, (day_id % p)::INT AS phase
      FROM d
      CROSS JOIN unnest([{", ".join(str(p) for p in SPECTRAL_PERIODS)}])
        AS t(p)
    ),
    terms AS (
      SELECT p,
             actual * {_sql_nested(_COS_W)}[p - 1][phase + 1] AS ct,
             actual * {_sql_nested(_SIN_W)}[p - 1][phase + 1] AS st,
             {_sql_nested(_COS_W)}[p - 1][phase + 1] AS cw,
             {_sql_nested(_SIN_W)}[p - 1][phase + 1] AS sw
      FROM x
    ),
    g AS (
      SELECT p,
             sum(ct) AS s_cw, sum(st) AS s_sw,
             sum(cw) AS w_c, sum(sw) AS w_s
      FROM terms GROUP BY p
    ),
    tot AS (
      SELECT cast(cast(sum(actual) AS VARCHAR) AS DOUBLE) AS t_dbl,
             cast(count(*) AS DOUBLE) AS n
      FROM d
    ),
    pw AS (
      SELECT p,
             (cast(cast(s_cw AS VARCHAR) AS DOUBLE)
               - (t_dbl / n) * cast(w_c AS DOUBLE)) / 1000000.0 AS cs,
             (cast(cast(s_sw AS VARCHAR) AS DOUBLE)
               - (t_dbl / n) * cast(w_s AS DOUBLE)) / 1000000.0 AS sn
      FROM g CROSS JOIN tot
    )
    SELECT p::INT AS period_days,
           {sql_dround('cs * cs + sn * sn', 4)} AS power
    FROM pw
    """,
)
def q_ts_spectral_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-frequency periodogram of the daily value series: for each
    candidate cycle length p ∈ [2, 14] days, spectral power
    (Σ aᵈ·cos(2πd/p))² + (Σ aᵈ·sin(2πd/p))² of the mean-centered
    dailies — the which-cycle-actually-dominates screen behind
    q_ts_seasonality's fixed weekly profile (a weekly-seasonal series
    peaks at p=7; an unexpected peak at p=2 means aliasing/batching
    artifacts in ingest).

    Determinism: the trig weights are micro-unit INTEGER literals baked
    into BOTH plans at build time (the q_agg_histogram_log2
    no-runtime-libm discipline) and selected by integer phase =
    day mod p, so every per-row product actual·w and every cross-day
    sum is EXACT decimal/integer arithmetic — no per-row double
    rounding whose half-way behavior could differ across engines (the
    round-10 sf10 sweep caught exactly that: two DECIMAL(38,10)
    quantizations of double products landed one quantum apart). The
    mean-centering is folded out algebraically
    (Σ(a−mn)·w = Σa·w − mn·Σw), leaving one fixed-order scalar double
    expression per period over exact inputs.

    Scale: one map-side-combined groupBy to the bounded day series,
    then a 13×-row explode of that bounded table — the heavy table is
    touched exactly once."""
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.expr(f"unix_micros(ts) div {DAY_US}").alias("day_id")
    ).agg(
        F.sum(F.col("value").cast("decimal(38,8)"))
        .cast("decimal(20,8)")
        .alias("actual")
    )
    tot = d.agg(
        F.sum("actual").cast("double").alias("t_dbl"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    periods = F.array(*[F.lit(p) for p in SPECTRAL_PERIODS])
    cosw = F.array(
        *[F.array(*[F.lit(w) for w in row]) for row in _COS_W]
    )
    sinw = F.array(
        *[F.array(*[F.lit(w) for w in row]) for row in _SIN_W]
    )
    x = d.select(
        F.col("actual"),
        "day_id",
        F.explode(periods).alias("p"),
    ).select(
        "p",
        "actual",
        (F.col("day_id") % F.col("p")).cast("int").alias("phase"),
    )
    cw = F.element_at(
        F.element_at(cosw, F.col("p") - 1), F.col("phase") + 1
    )
    sw = F.element_at(
        F.element_at(sinw, F.col("p") - 1), F.col("phase") + 1
    )
    g = (
        x.select(
            "p",
            (F.col("actual") * cw).alias("ct"),
            (F.col("actual") * sw).alias("st"),
            cw.alias("cw"),
            sw.alias("sw"),
        )
        .groupBy("p")
        .agg(
            F.sum("ct").alias("s_cw"),
            F.sum("st").alias("s_sw"),
            F.sum("cw").alias("w_c"),
            F.sum("sw").alias("w_s"),
        )
    )
    pw = g.crossJoin(F.broadcast(tot)).select(
        "p",
        (
            (
                F.col("s_cw").cast("double")
                - (F.col("t_dbl") / F.col("n")) * F.col("w_c").cast("double")
            )
            / F.lit(1000000.0)
        ).alias("cs"),
        (
            (
                F.col("s_sw").cast("double")
                - (F.col("t_dbl") / F.col("n")) * F.col("w_s").cast("double")
            )
            / F.lit(1000000.0)
        ).alias("sn"),
    )
    return pw.select(
        F.col("p").cast("int").alias("period_days"),
        dround(
            F.col("cs") * F.col("cs") + F.col("sn") * F.col("sn"), 4
        ).alias("power"),
    )


WAU_DAYS, MAU_DAYS = 7, 28  # trailing engagement windows


@query(
    "q_ts_active_users",
    oracle=f"""
    WITH du AS (
      SELECT DISTINCT epoch_us(ts) // {DAY_US} AS day_id, user_id
      FROM events
    ),
    days AS (SELECT DISTINCT day_id FROM du),
    wau AS (
      SELECT d.day_id, count(DISTINCT u.user_id) AS wau
      FROM days d JOIN du u
        ON u.day_id BETWEEN d.day_id - {WAU_DAYS - 1} AND d.day_id
      GROUP BY d.day_id
    ),
    mau AS (
      SELECT d.day_id, count(DISTINCT u.user_id) AS mau
      FROM days d JOIN du u
        ON u.day_id BETWEEN d.day_id - {MAU_DAYS - 1} AND d.day_id
      GROUP BY d.day_id
    ),
    dau AS (
      SELECT day_id, count(*) AS dau FROM du GROUP BY day_id
    )
    SELECT dau.day_id,
           dau.dau::BIGINT AS dau, wau.wau::BIGINT AS wau,
           mau.mau::BIGINT AS mau,
           {sql_dround('dau.dau / cast(mau.mau AS DOUBLE)', 6)}
             AS stickiness
    FROM dau JOIN wau ON wau.day_id = dau.day_id
             JOIN mau ON mau.day_id = dau.day_id
    """,
)
def q_ts_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement surface: per active day, DAU plus trailing
    {WAU_DAYS}-day WAU and {MAU_DAYS}-day MAU distinct-user counts and
    the DAU/MAU stickiness ratio — the product-health dashboard every
    event pipeline serves, and the canonical SLIDING COUNT DISTINCT
    (a windowed count over a frame can't dedup users across rows, so
    the window idiom is wrong here; the day-offset expansion is the
    right relational form).

    Determinism: pure integer distinct counts; stickiness is one
    double division.

    Scale: raw events collapse ONCE to distinct (day, user) pairs
    (map-side combine) — everything after operates on that bounded
    pair table; the trailing windows expand pairs ×{WAU_DAYS}/×
    {MAU_DAYS} via an offset explode joined to active days (shuffle on
    day keys, never a global sort). At 100 TB the pair table is
    users×days — already the smallest exact representation of the
    problem."""
    ev = table(spark, sf_dir, "events")
    du = pin(  # reused by dau/wau/mau
        ev.select(
            F.expr(f"unix_micros(ts) div {DAY_US}").alias("day_id"),
            "user_id",
        ).distinct()
    )
    days = du.select("day_id").distinct()

    def trailing(n_days: int, out: str):
        expanded = du.select(
            F.explode(
                F.sequence(
                    F.col("day_id"), F.col("day_id") + (n_days - 1)
                )
            ).alias("day_id"),
            "user_id",
        )
        return (
            expanded.join(days, "day_id")
            .groupBy("day_id")
            .agg(F.countDistinct("user_id").alias(out))
        )

    dau = du.groupBy("day_id").agg(F.count(F.lit(1)).alias("dau"))
    wau = trailing(WAU_DAYS, "wau")
    mau = trailing(MAU_DAYS, "mau")
    return (
        dau.join(wau, "day_id")
        .join(mau, "day_id")
        .select(
            "day_id",
            F.col("dau").cast("bigint").alias("dau"),
            F.col("wau").cast("bigint").alias("wau"),
            F.col("mau").cast("bigint").alias("mau"),
            dround(
                F.col("dau") / F.col("mau").cast("double"), 6
            ).alias("stickiness"),
        )
    )


@query(
    "q_ts_user_streaks",
    oracle=f"""
    WITH du AS (
      SELECT DISTINCT user_id, epoch_us(ts) // {DAY_US} AS day_id
      FROM events
    ),
    r AS (
      SELECT user_id, day_id,
             day_id - row_number() OVER (PARTITION BY user_id
                                         ORDER BY day_id) AS grp
      FROM du
    ),
    streaks AS (
      SELECT user_id, grp, count(*) AS len
      FROM r GROUP BY user_id, grp
    )
    SELECT user_id,
           max(len)::INT AS longest_streak,
           count(*)::BIGINT AS n_streaks,
           sum(len)::BIGINT AS active_days
    FROM streaks GROUP BY user_id
    """,
)
def q_ts_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user (plus streak
    count and total active days) via the classic day_id − row_number
    island trick: consecutive days share a constant difference, so the
    groupBy collapses each run — the engagement-loop metric (Duolingo
    streaks, DAU habit analysis) that q_ts_active_users' window counts
    can't express.

    Determinism: pure integer arithmetic end to end.

    Scale: events collapse once to distinct (user, day) pairs; the
    ranking window PARTITIONS BY user (bounded per-key state, no
    global sort); both rollups reuse the user hash partitioning."""
    ev = table(spark, sf_dir, "events")
    du = ev.select(
        "user_id",
        F.expr(f"unix_micros(ts) div {DAY_US}").alias("day_id"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day_id")
    r = du.select(
        "user_id",
        "day_id",
        (F.col("day_id") - F.row_number().over(w)).alias("grp"),
    )
    streaks = r.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("len")
    )
    return streaks.groupBy("user_id").agg(
        F.max("len").cast("int").alias("longest_streak"),
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        F.sum("len").cast("bigint").alias("active_days"),
    )


@query(
    "q_ts_seasonality_strength",
    oracle=f"""
    WITH d AS (
      SELECT epoch_us(ts) // {DAY_US} AS day_id,
             cast(cast(sum(cast(value AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS actual
      FROM events GROUP BY 1
    ),
    g AS (
      SELECT ((day_id + 4) % 7) AS dow, count(*) AS n,
             sum(cast(actual AS DECIMAL(38,8))) AS s,
             sum(cast(actual * actual AS DECIMAL(38,8))) AS ss
      FROM d GROUP BY 1
    ),
    t AS (
      SELECT sum(n) AS n, cast(sum(s) AS DOUBLE) AS s,
             cast(sum(ss) AS DOUBLE) AS ss,
             cast(cast(sum(cast(
               (cast(g.s AS DOUBLE) * cast(g.s AS DOUBLE)) / g.n
               AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS sb
      FROM g
    )
    SELECT cast(n AS BIGINT) AS n_days,
           {{SST}} AS total_var,
           {{R2}} AS dow_r2
    FROM t
    """.replace(
        "{SST}",
        sql_dround("(ss - s * s / n) / n", 4),
    ).replace(
        "{R2}",
        sql_dround("(sb - s * s / n) / (ss - s * s / n)", 6),
    ),
)
def q_ts_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality STRENGTH as an ANOVA variance ratio: the share of
    the daily series' variance explained by day-of-week group means,
    R² = SS_between/SS_total — the one-number complement to
    q_ts_seasonality's per-dow profile and q_ts_spectral_peak's
    which-period scan (R² near 0 ⇒ don't bother deseasonalizing;
    near 1 ⇒ anomaly screens must run on dow-adjusted residuals).

    Determinism: daily actuals are exact decimal sums cast once;
    per-dow moments and the between-group Σ(s²/n) re-quantize to
    decimal before cross-group accumulation; both ratios are
    fixed-order double expressions.

    Scale: events collapse to the bounded day series (map-side
    combine), then 7 group rows and constant arithmetic — nothing
    data-proportional past the first aggregate."""
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.expr(f"unix_micros(ts) div {DAY_US}").alias("day_id")
    ).agg(
        F.sum(F.col("value").cast("decimal(38,8)"))
        .cast("double")
        .alias("actual")
    )
    g = d.groupBy(((F.col("day_id") + 4) % 7).alias("dow")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("actual").cast("decimal(38,8)")).alias("s"),
        F.sum((F.col("actual") * F.col("actual")).cast("decimal(38,8)"))
        .alias("ss"),
    )
    t = g.agg(
        F.sum("n").alias("n"),
        F.sum("s").cast("double").alias("s"),
        F.sum("ss").cast("double").alias("ss"),
        F.sum(
            (
                (F.col("s").cast("double") * F.col("s").cast("double"))
                / F.col("n")
            ).cast("decimal(38,8)")
        )
        .cast("double")
        .alias("sb"),
    )
    n, sv, ssv, sb = F.col("n"), F.col("s"), F.col("ss"), F.col("sb")
    return t.select(
        n.cast("bigint").alias("n_days"),
        dround((ssv - sv * sv / n) / n, 4).alias("total_var"),
        dround((sb - sv * sv / n) / (ssv - sv * sv / n), 6).alias(
            "dow_r2"
        ),
    )
