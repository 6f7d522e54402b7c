"""Streaming window semantics over the `events` table.

Each query here is the *batch-equivalent* of a Structured Streaming
computation (Spark's streaming window functions evaluate identically in
batch mode — that's what makes them hash-checkable against DuckDB). The
true streaming path — readStream + watermark + writeStream — lives in
``harness.py`` and is exercised by the pytest streaming suite; driver
checks for watermark/dedup are rows-only by the contract, but we supply
deterministic batch emulations with SQL oracles anyway.

Window starts are output as epoch seconds (BIGINT) — timezone-proof
across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_clustering_spark.functions.detagg import dsum, sql_dsum
from spark_clustering_spark.io import table
from spark_clustering_spark.registry import query


def _epoch(col):
    return F.unix_timestamp(col).cast("bigint")


@query(
    "q_stream_tumbling",
    oracle=f"""
    SELECT epoch(date_trunc('hour', ts))::BIGINT AS win_start,
           event_type,
           count(*) AS n_events,
           {sql_dsum('value', 'sum_value')}
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window counts per event type — F.window() is the
    exact streaming operator; epoch-aligned like DuckDB date_trunc."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .select(
            _epoch(F.col("w.start")).alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "q_stream_sliding",
    oracle="""
    WITH offs AS (SELECT unnest([0, 600, 1200]) AS off),
    ev AS (SELECT floor(epoch(ts))::BIGINT AS t, event_type FROM events)
    SELECT ((t - off) // 1800) * 1800 + off AS win_start,
           event_type,
           count(*) AS n_events
    FROM ev CROSS JOIN offs
    GROUP BY 1, 2
    """,
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-min windows sliding every 10 min: each event lands in 3
    windows. Spark's window(ts, 30m, 10m) enumerates them natively; the
    oracle reproduces the epoch-aligned window-start arithmetic."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "30 minutes", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            _epoch(F.col("w.start")).alias("win_start"),
            "event_type",
            "n_events",
        )
    )


@query(
    "q_stream_session",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, epoch(ts) AS t,
             lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_t
      FROM events
    ),
    marked AS (
      SELECT user_id, t,
             CASE WHEN prev_t IS NULL OR t - prev_t >= 1800 THEN 1 ELSE 0 END AS new_s
      FROM ordered
    ),
    islands AS (
      SELECT user_id, t,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM marked
    )
    SELECT user_id, floor(min(t))::BIGINT AS session_start, count(*) AS n_events
    FROM islands GROUP BY user_id, sid
    """,
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user via Spark's native
    session_window; oracle is the classic gaps-and-islands rewrite.
    An event exactly 30:00 after its predecessor starts a new session
    (session_window's half-open [start, last+gap) semantics)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            _epoch(F.col("w.start")).alias("session_start"),
            "n_events",
        )
    )


@query(
    "q_stream_watermark",
    oracle="""
    WITH arr AS (
      SELECT event_type, ts,
             max(ts) OVER (ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS max_seen
      FROM events
    )
    SELECT epoch(date_trunc('hour', ts))::BIGINT AS win_start,
           event_type, count(*) AS n_events
    FROM arr
    WHERE ts >= max_seen - INTERVAL 10 MINUTES
    GROUP BY 1, 2
    """,
)
def q_stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark semantics, batch-emulated deterministically: treating
    event_id as arrival order, an event more than 10 min behind the
    running max event-time is late and dropped; survivors feed 1-hour
    tumbling counts. The true streaming path (withWatermark + update
    mode) is exercised in tests/test_streaming.py — per-row emulation
    here is the *strictest* watermark (streaming advances it only per
    micro-batch, so it drops a subset of these).

    Scale: the arrival-order running max is served by
    ``global_running_agg`` (literal event_id slice cuts + per-slice
    max carry-in) — never the full events table through one reducer."""
    from spark_clustering_spark.operators.windows import global_running_agg

    ev = table(spark, sf_dir, "events")
    arr, _ = global_running_agg(
        ev, [F.col("event_id")], {"max_seen": ("max", F.col("ts"))}
    )
    kept = arr.filter(
        F.col("ts") >= F.col("max_seen") - F.expr("INTERVAL 10 MINUTES")
    )
    return kept.groupBy(
        _epoch(F.date_trunc("hour", F.col("ts"))).alias("win_start"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))


@query(
    "q_stream_dedup",
    oracle="""
    SELECT user_id, event_type,
           min(event_id) AS first_event_id
    FROM events
    GROUP BY user_id, event_type
    """,
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dedup: first event per (user, event_type) by
    arrival order — the batch-stable analog of streaming
    dropDuplicatesWithinWatermark (which keeps an arbitrary row; tests
    assert set-equality of keys against the streaming run)."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(
        F.min("event_id").alias("first_event_id")
    )


@query(
    "q_stream_enrich",
    oracle=f"""
    SELECT epoch(date_trunc('hour', e.ts))::BIGINT AS win_start,
           c.c_mktsegment AS segment,
           count(*) AS n_events,
           {sql_dsum('e.value', 'sum_value')}
    FROM events e JOIN customer c ON c.c_custkey = e.user_id + 1
    GROUP BY 1, 2
    """,
)
def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: events enriched with a customer
    dimension, then hourly tumbling counts per market segment. In
    Structured Streaming this exact plan runs with the static side
    broadcast into every micro-batch (stream-static joins need no state
    store); batch evaluation is semantically identical, which is what
    the oracle checks."""
    ev = table(spark, sf_dir, "events")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = ev.join(F.broadcast(c), F.col("c_custkey") == F.col("user_id") + 1)
    return (
        j.groupBy(F.window("ts", "1 hour").alias("w"), "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .select(
            _epoch(F.col("w.start")).alias("win_start"),
            F.col("c_mktsegment").alias("segment"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "q_stream_join",
    oracle="""
    SELECT v.event_id AS view_id, c.event_id AS click_id, v.user_id,
           (floor(epoch(c.ts)) - floor(epoch(v.ts)))::BIGINT AS gap_s
    FROM events v JOIN events c
      ON v.user_id = c.user_id
     AND v.event_type = 'view' AND c.event_type = 'click'
     AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 4 HOUR
    """,
)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (batch equivalent): every click that
    follows a view by the same user within 4 hours. In Structured
    Streaming this exact plan is a watermarked stream-stream inner join
    with a time-range condition (state pruned by the watermark bound —
    see harness.stream_stream_join for the readStream version); batch
    evaluation is identical, which the oracle checks.

    Scale: equi-key on user_id carries the join; the time-range is a
    residual predicate, so this shuffles each side once by user — no
    cross product. Streaming state is bounded by the 4h range +
    watermark delay per user."""
    ev = table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id"),
        F.col("ts").alias("v_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    j = v.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") > F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 4 HOURS")),
    )
    return j.select(
        "view_id",
        "click_id",
        "user_id",
        (_epoch(F.col("c_ts")) - _epoch(F.col("v_ts"))).alias("gap_s"),
    )


@query(
    "q_stream_cluster_volume",
    oracle="""
    WITH pts AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
    ctr AS (SELECT vec_id AS cid, vec AS cvec FROM pts ORDER BY vec_id LIMIT 8),
    assign AS (
      SELECT p.vec_id, c.cid AS cluster_id
      FROM pts p CROSS JOIN ctr c
      QUALIFY row_number() OVER (
        PARTITION BY p.vec_id ORDER BY list_distance(p.vec, c.cvec), c.cid) = 1
    )
    SELECT (vec_id // 100) * 3600 AS win_start, cluster_id,
           count(*) AS n_vectors
    FROM assign
    GROUP BY 1, 2
    """,
)
def q_stream_cluster_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming cluster-volume monitor: vectors arrive on an event
    time (synthetic here: one hour per 100 vec_ids), each is assigned
    to its nearest centroid (the fixed model is a broadcast — exactly
    how an online classifier deploys a trained k-means), and per-
    cluster volume is counted in hourly tumbling windows. Drift in
    these counts is the standard trigger for re-fitting.

    Every operator here is streaming-native: the assignment is a
    stateless broadcast cross-join + argmin (runs per micro-batch
    unchanged), and the windowed count is `F.window` over event time —
    the same plan `readStream` would execute with a watermark; the
    batch run IS the replay, which is what makes the DuckDB oracle
    applicable (tests/test_streaming.py runs the harness twins)."""
    from spark_clustering_spark.operators.clustering import (
        assign,
        centroids_df,
        points_df,
    )

    pts = points_df(spark, sf_dir)
    a = assign(pts, centroids_df(spark, sf_dir))
    timed = a.select(
        "vec_id",
        "cluster_id",
        F.timestamp_seconds(
            (F.col("vec_id") / 100).cast("bigint") * 3600
        ).alias("ts"),
    )
    return (
        timed.groupBy(F.window("ts", "1 hour").alias("w"), "cluster_id")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .select(
            _epoch(F.col("w.start")).alias("win_start"),
            "cluster_id",
            "n_vectors",
        )
    )


@query(
    "q_stream_topk",
    oracle="""
    WITH agg AS (
      SELECT epoch(date_trunc('hour', ts))::BIGINT AS win_start,
             event_type, count(*) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT win_start, event_type, n_events, rn::INT AS rn
    FROM (
      SELECT win_start, event_type, n_events,
             row_number() OVER (PARTITION BY win_start
               ORDER BY n_events DESC, event_type) AS rn
      FROM agg) t
    WHERE rn <= 3
    """,
)
def q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 event types per 1-hour tumbling window — the streaming
    leaderboard pattern: a windowed aggregate (incremental, watermark-
    able) followed by a rank over the per-window result. In live
    Structured Streaming the rank runs downstream of the window agg
    (complete/update-mode sink or a foreachBatch rank over the
    micro-batch's closed windows); the aggregate is the only stateful
    stage, so state stays (window × type)-sized.

    Scale: rank partitions by window over the already-aggregated
    (window, type) table — windows-count × |type| rows, never raw
    events."""
    ev = table(spark, sf_dir, "events")
    agg = ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    w = Window.partitionBy("w").orderBy(
        F.col("n_events").desc(), F.col("event_type")
    )
    return (
        agg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            _epoch(F.col("w.start")).alias("win_start"),
            "event_type",
            "n_events",
            "rn",
        )
    )


@query(
    "q_stream_upsert",
    # TRUE streaming surface: a foreachBatch copy-on-write merge whose
    # final state provably equals the batch changelog collapse — the
    # same oracle as q_cdc_apply_changelog
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
def q_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC-apply (REAL Structured Streaming, not a batch
    twin): the changelog replays as a file stream; each micro-batch
    merges into copy-on-write parquet state by last-writer-wins on the
    (ts, event_id) total order; tombstones ('error') drop at read.
    Associativity of the merge makes the final state chunking-
    invariant, so this genuine foreachBatch run hash-verifies against
    the one-shot batch oracle — see streaming/harness.py:stream_upsert
    for the loop and the scale notes."""
    from spark_clustering_spark.streaming.harness import stream_upsert

    return stream_upsert(spark, sf_dir, n_chunks=6)
