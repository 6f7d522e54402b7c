"""Custom stateful streaming operator via applyInPandasWithState.

Per-user running engagement state: event count, value sum, and last
event time, emitted as an update row per user per micro-batch. This is
the pattern the built-in windows can't express — arbitrary user-defined
state evolving across micro-batches with timeout-based finalization —
and the seam where a 100 TB pipeline keys state by user across
executors (state store partitioned on the groupBy key).

The value sum accumulates in integer cents (round(value*100)) so the
final state is order- and chunking-proof exact integer arithmetic —
which is what makes the whole stateful pipeline hash-checkable against
a plain SQL aggregate (q_stream_stateful)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from spark_clustering_spark.registry import query

STATE_SCHEMA = "n_events BIGINT, sum_cents BIGINT, last_ts_epoch BIGINT"
OUTPUT_SCHEMA = (
    "user_id BIGINT, n_events BIGINT, sum_cents BIGINT, last_ts_epoch BIGINT"
)


def _update_user_state(key, pdfs, state: GroupState):
    import pandas as pd

    (user_id,) = key
    n, cents, last = state.get if state.exists else (0, 0, 0)
    for pdf in pdfs:
        n += len(pdf)
        cents += int(pdf["value"].mul(100).round().astype("int64").sum())
        last = max(last, int(pdf["ts"].astype("int64").max() // 1_000_000_000))
    state.update((n, cents, last))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "sum_cents": [cents],
            "last_ts_epoch": [last],
        }
    )


def user_engagement_stream(events_stream: DataFrame) -> DataFrame:
    """Wire the stateful operator onto a streaming events DataFrame."""
    return (
        events_stream.groupBy("user_id")
        .applyInPandasWithState(
            _update_user_state,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_user_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay events through the stateful operator; returns the final
    per-user state rows (last update per user wins)."""
    from pyspark.sql import functions as F

    from spark_clustering_spark.streaming.harness import (
        _read_stream,
        _run_to_completion,
        replay_dir,
        stream_session,
    )

    replay = replay_dir(spark, sf_dir, n_chunks=2)
    src = _read_stream(stream_session(spark), replay)
    out = user_engagement_stream(src.select("user_id", "ts", "value"))
    res = _run_to_completion(out, "update", "stream_engagement")
    # update mode emits one row per user per batch: keep the final state
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        res.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "q_stream_stateful",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           sum(round(value * 100)::BIGINT)::BIGINT AS sum_cents,
           floor(epoch(max(ts)))::BIGINT AS last_ts_epoch
    FROM events
    GROUP BY user_id
    """,
)
def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator, end-to-end: events replayed
    as an 8-micro-batch file stream through applyInPandasWithState
    (per-user state: count, cents-exact value sum, last event time),
    final state extracted from the update-mode emissions. Because the
    state arithmetic is integer-exact, the final state equals the plain
    batch aggregate regardless of micro-batch chunking — which the SQL
    oracle checks (a stronger contract than the rows-only check custom
    stateful ops usually get).

    Scale: state is keyed by user_id, so the state store shards across
    executors with the shuffle; per-key state is 3 integers, and each
    micro-batch touches only arriving keys."""
    return run_user_engagement(spark, sf_dir)
