"""True Structured Streaming harness (SURVEY.md §5.6).

Replays the `events` table as a file-source stream in arrival order
(event_id), chunked so the watermark actually advances across
micro-batches, then runs real streaming queries to completion.

``stream_upsert`` (foreachBatch MERGE) serves q_stream_upsert, and the
replay helpers serve the stateful streams and ``fit_kmeans_stream``.
The other eight operators are the reference runs that the declared
batch emulations in windows.py are checked against
(tests/test_streaming.py asserts equality or the containment relations
between the streaming results and the batch keys), and no key calls
them:

- ``stream_tumbling_counts``: withWatermark + 1h window aggregation
- ``stream_dedup``: dropDuplicatesWithinWatermark
- ``stream_stream_join``: watermarked stream-stream interval join
- ``stream_cluster_volume``, ``stream_topk``: per-window aggregates
- ``stream_sliding_counts``, ``stream_session_counts``,
  ``stream_enrich_counts``: sliding/session windows and a
  stream-static join
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_clustering_spark.io import scratch, shuffle_width, table

EVENT_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


def write_replay_chunks(
    df: DataFrame, id_col: str, out: str, n_chunks: int
) -> None:
    """Write ``df`` as id-ranged single-file parquet chunks under
    ``out`` with strictly increasing mtimes (FileStreamSource orders by
    modification time, not path — stamping pins arrival order == chunk
    order).

    The per-chunk filter+coalesce(1) write jobs are INDEPENDENT, so
    they are submitted from a small driver thread pool (guide §2.6 —
    overlap independent jobs): serially, each job is one task (the
    coalesce) and the replay build runs single-threaded for n_chunks
    full passes; concurrently, the chunk writes back-fill the idle
    cores. Output files are byte-identical to the serial loop (same
    per-chunk plan, same single writer task per chunk); mtimes are
    stamped after ALL writes land, so completion order cannot leak
    into arrival order. ``df`` is cached for the write and released
    after it: the max-id probe populates the cache, so the concurrent
    chunk jobs read cached blocks instead of racing to recompute the
    scan (or the pipeline behind it)."""

    def _write_one(ci_lo: tuple[int, int]) -> str:
        ci, lo = ci_lo
        cdir = os.path.join(out, f"chunk_{ci:04d}")
        (
            df.filter((F.col(id_col) >= lo) & (F.col(id_col) < lo + chunk))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(cdir)
        )
        return cdir

    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    df.persist()
    try:
        max_id = df.agg(F.max(id_col).alias("m")).collect()[0]["m"]
        n = int(max_id) + 1
        chunk = max(1, n // n_chunks + (n % n_chunks > 0))
        jobs = list(enumerate(range(0, n, chunk)))
        # the wrapper carries the caller's job group, local properties and
        # tags into the pool threads; plain threads submit ungrouped jobs
        write_one = inheritable_thread_target(df.sparkSession)(_write_one)
        with ThreadPoolExecutor(max_workers=min(len(jobs), 8)) as pool:
            dirs = list(pool.map(write_one, jobs))
    finally:
        df.unpersist()
    base = time.time()
    for ci, cdir in enumerate(dirs):
        for root, _, files in os.walk(cdir):
            for f in files:
                os.utime(os.path.join(root, f), (base + ci, base + ci))


def replay_dir(spark: SparkSession, sf_dir: str, n_chunks: int = 8) -> str:
    """Materialize events as n_chunks parquet files in event_id order —
    a deterministic arrival-order replay source. Chunks are cut by
    event_id range and written distributed (only the 1-row max-id
    aggregate touches the driver), so the harness itself scales with
    the source instead of materializing it driver-side. Every replay
    shares one scratch name: a replay is read only while its stream
    drains, so the next replay may replace it."""
    out = scratch("stream_replay")
    write_replay_chunks(table(spark, sf_dir, "events"), "event_id", out, n_chunks)
    return out


def stream_session(spark: SparkSession) -> SparkSession:
    """A private session for a stateful stream, sharing ``spark``'s
    context but not its conf.

    A stateful operator's state-shard count is the shuffle-partition
    count of the session the stream STARTS in, fixed for the query's
    life: a ``repartition`` cannot set it. Each micro-batch pays a task
    and a state commit per shard, so Spark's unset default of 200 costs
    far more than the rows do at this scale. Setting the width on a
    session only the stream uses scopes it without touching the
    caller's conf or racing concurrent jobs on the shared session. The
    session time zone is copied because the Arrow batches handed to
    pandas state functions render timestamps in it."""
    private = spark.newSession()
    private.conf.set(
        "spark.sql.session.timeZone", spark.conf.get("spark.sql.session.timeZone")
    )
    private.conf.set("spark.sql.shuffle.partitions", str(shuffle_width(spark)))
    return private


def _read_stream(spark: SparkSession, replay: str) -> DataFrame:
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(replay, "chunk_*"))
    )


def _run_to_completion(
    stream_df: DataFrame, output_mode: str, name: str
) -> DataFrame:
    """Drain the stream into a memory sink and return its rows. The
    sink is named by its call site, so a rerun replaces the temp view
    instead of adding one; a frame returned earlier keeps reading its
    own sink. Once drained, the stream's replay dir is no longer read
    and the next ``scratch`` of its name may delete it."""
    spark = stream_df.sparkSession
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    return spark.table(name)


def _drain(q, timeout: int = 300) -> bool:
    """awaitTermination with the slow-drain guard (ADVICE r6, applied
    to EVERY harness drain in r8 — the q_stream_upsert path had its
    own unguarded copy): if the drain exceeds the timeout, stop the
    query BEFORE its source dir can go — the next ``scratch`` of the
    replay's name deletes it, and deleting a live FileStreamSource's
    input turns a benign partial-result timeout into a stream failure.
    Returns whether the query terminated on its own."""
    terminated = q.awaitTermination(timeout)
    if not terminated:
        q.stop()
        q.awaitTermination(30)
    return terminated


def stream_tumbling_counts(
    spark: SparkSession, sf_dir: str, watermark: str = "10 minutes"
) -> DataFrame:
    """Real streaming: withWatermark + tumbling 1h counts per type.
    Returns (win_start bigint epoch, event_type, n_events) — the final
    (append-mode) result after the availableNow replay drains."""
    replay = replay_dir(spark, sf_dir)
    src = _read_stream(spark, replay)
    agg = (
        src.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    res = _run_to_completion(agg, "append", "stream_tumbling")
    return res.select(
        F.unix_timestamp(F.col("w.start")).cast("bigint").alias("win_start"),
        "event_type",
        "n_events",
    )


def stream_dedup(
    spark: SparkSession, sf_dir: str, watermark: str = "30 minutes"
) -> DataFrame:
    """Real streaming dropDuplicatesWithinWatermark on
    (user_id, event_type): emits one row per key per watermark window."""
    replay = replay_dir(spark, sf_dir)
    src = _read_stream(spark, replay)
    dedup = src.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    res = _run_to_completion(dedup, "append", "stream_dedup")
    return res.select("user_id", "event_type", "event_id", "ts")


def stream_stream_join(
    spark: SparkSession, sf_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    """Real stream-stream inner join: two watermarked streams off the
    same replay (views and clicks), joined on user_id with a 4-hour
    time-range condition — the state-store-backed operator behind
    q_stream_join. The range bound plus both watermarks lets Spark
    prune join state; append mode emits each matched pair once.
    Returns (view_id, click_id, user_id, gap_s)."""
    replay = replay_dir(spark, sf_dir)
    v = (
        _read_stream(spark, replay)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", watermark)
    )
    c = (
        _read_stream(spark, replay)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    j = v.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") > F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 4 HOURS")),
    )
    res = _run_to_completion(j, "append", "stream_stream_join")
    return res.select(
        "view_id",
        "click_id",
        "user_id",
        (F.unix_timestamp("c_ts") - F.unix_timestamp("v_ts"))
        .cast("bigint")
        .alias("gap_s"),
    )


def stream_cluster_volume(
    spark: SparkSession, sf_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    """Real streaming twin of q_stream_cluster_volume: the timed
    centroid assignments replay as an 8-chunk file stream, and the
    per-cluster hourly volume aggregates with a watermark in append
    mode. The trained model (centroid table) is the static side — it
    is evaluated per micro-batch exactly as a deployed classifier
    would. Returns (win_start epoch, cluster_id, n_vectors)."""
    from spark_clustering_spark.operators.clustering import (
        assign,
        centroids_df,
        points_df,
    )

    pts = points_df(spark, sf_dir)
    timed = assign(pts, centroids_df(spark, sf_dir)).select(
        "vec_id",
        "cluster_id",
        F.timestamp_seconds(
            (F.col("vec_id") / 100).cast("bigint") * 3600
        ).alias("ts"),
    )
    out = scratch("cluster_replay")
    write_replay_chunks(timed, "vec_id", out, n_chunks=8)
    src = (
        spark.readStream.schema("vec_id BIGINT, cluster_id BIGINT, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(out, "chunk_*"))
    )
    agg = (
        src.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "cluster_id")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )
    res = _run_to_completion(agg, "append", "stream_cluster_volume")
    return res.select(
        F.unix_timestamp(F.col("w.start")).cast("bigint").alias("win_start"),
        "cluster_id",
        "n_vectors",
    )


def stream_topk(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Real streaming leaderboard: the tumbling aggregate runs as a
    Structured Streaming query (complete mode — the stateful stage),
    and the per-window rank is applied downstream of the sink, exactly
    as q_stream_topk's docstring prescribes (rank is not stateful, so
    it never enters the streaming plan). Returns
    (win_start, event_type, n_events, rn<=k) after the availableNow
    replay drains."""
    from pyspark.sql.window import Window

    replay = replay_dir(spark, sf_dir)
    src = _read_stream(spark, replay)
    agg = src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    res = _run_to_completion(agg, "complete", "stream_topk")
    wr = Window.partitionBy("w").orderBy(
        F.col("n_events").desc(), F.col("event_type")
    )
    return (
        res.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= k)
        .select(
            F.unix_timestamp(F.col("w.start")).cast("bigint").alias("win_start"),
            "event_type",
            "n_events",
            "rn",
        )
    )


def stream_upsert(
    spark: SparkSession, sf_dir: str, n_chunks: int = 6
) -> DataFrame:
    """Real streaming CDC-apply: replay the event changelog as a file
    stream and fold each micro-batch into a copy-on-write parquet
    state table by LAST-WRITER-WINS on (ts, event_id) — the streaming
    twin of q_cdc_apply_changelog (and of the batch CoW sink
    q_sink_upsert). Because last-writer-wins is associative and the
    tiebreak is a total order, the final state is independent of how
    the changelog is chunked into batches — which is exactly why the
    declared surface can hash-verify a true foreachBatch run against
    the batch oracle.

    Scale: per batch, ONE key-partitioned reduction over
    (state ∪ batch) and one state rewrite — the merge-on-read
    compaction loop; state is one row per live key, and on a real
    lakehouse the rewrite narrows to the key-partitions the batch
    touched (Hudi/Delta merge semantics). Alternating state dirs
    avoid read-overwrite races. The state dirs and the checkpoint live
    in the ``q_stream_upsert`` scratch dir: the returned frame reads the
    current state lazily, so it stays until the next call."""
    replay = replay_dir(spark, sf_dir, n_chunks=n_chunks)
    base = scratch("q_stream_upsert")
    dirs = [os.path.join(base, "a"), os.path.join(base, "b")]
    state = {"cur": None, "flip": 0}

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        new = batch_df.select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            F.get_json_object("props", "$.k").cast("bigint").alias("k"),
        )
        if state["cur"] is not None:
            new = new.unionByName(batch_df.sparkSession.read.parquet(state["cur"]))
        # last-writer-wins as ONE hash aggregate instead of a window
        # (sort + full-row shuffle): max_by on the (ts, event_id)
        # total order picks the same winner row as row_number()=1 over
        # (ts DESC, event_id DESC) — event_id is globally unique so no
        # ties exist — and the aggregate does PARTIAL map-side
        # combining, so each micro-batch shuffles at most one row per
        # (user × map task) instead of every (state ∪ batch) row
        # through a sort (guide §2.3 "aggregate before you shuffle").
        win = F.max_by(
            F.struct("ts", "event_id", "event_type", "k"),
            F.struct("ts", "event_id"),
        ).alias("w")
        merged = (
            new.groupBy("user_id")
            .agg(win)
            .select(
                "user_id", "w.ts", "w.event_id", "w.event_type", "w.k"
            )
        )
        nxt = dirs[state["flip"]]
        merged.write.mode("overwrite").parquet(nxt)
        state["cur"] = nxt
        state["flip"] = 1 - state["flip"]

    q = (
        _read_stream(stream_session(spark), replay)
        .writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(base, "ck"))
        .start()
    )
    _drain(q)
    final = spark.read.parquet(state["cur"])
    return final.filter(F.col("event_type") != "error").select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        F.col("event_type").alias("last_type"),
        F.col("k").alias("last_k"),
    )


def stream_sliding_counts(
    spark: SparkSession, sf_dir: str, n_chunks: int = 8
) -> DataFrame:
    """Real streaming twin of q_stream_sliding: 30-min windows sliding
    every 10 min, run as a Structured Streaming aggregation in complete
    mode so the drained replay emits EXACTLY the batch result (no
    append-mode unfinalized tail) — the equality the test asserts on
    two different chunkings. Production would run append+watermark;
    complete mode is the test harness's equality instrument."""
    replay = replay_dir(spark, sf_dir, n_chunks=n_chunks)
    src = _read_stream(spark, replay)
    agg = src.groupBy(
        F.window("ts", "30 minutes", "10 minutes").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    res = _run_to_completion(agg, "complete", f"stream_sliding_{n_chunks}")
    return res.select(
        F.unix_timestamp(F.col("w.start")).cast("bigint").alias("win_start"),
        "event_type",
        "n_events",
    )


def stream_session_counts(
    spark: SparkSession, sf_dir: str, n_chunks: int = 8
) -> DataFrame:
    """Real streaming twin of q_stream_session: Spark's native
    session_window (30-min gap) per user as a streaming aggregation,
    complete mode so sessions spanning micro-batch boundaries merge in
    state and the drained replay emits EXACTLY the batch result on any
    chunking. Production would run append+watermark; complete mode is
    the test harness's equality instrument."""
    replay = replay_dir(spark, sf_dir, n_chunks=n_chunks)
    src = _read_stream(spark, replay)
    agg = src.groupBy(
        F.session_window("ts", "30 minutes").alias("w"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    res = _run_to_completion(agg, "complete", f"stream_session_{n_chunks}")
    return res.select(
        "user_id",
        F.unix_timestamp(F.col("w.start")).cast("bigint").alias("session_start"),
        "n_events",
    )


def stream_enrich_counts(
    spark: SparkSession, sf_dir: str, n_chunks: int = 8
) -> DataFrame:
    """Real streaming twin of q_stream_enrich: stream-static broadcast
    join (events stream x customer dim — no state store needed) feeding
    an hourly windowed aggregate, complete mode for drained-replay
    equality with the batch surface on any chunking."""
    replay = replay_dir(spark, sf_dir, n_chunks=n_chunks)
    src = _read_stream(spark, replay)
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = src.join(F.broadcast(c), F.col("c_custkey") == F.col("user_id") + 1)
    agg = j.groupBy(F.window("ts", "1 hour").alias("w"), "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    res = _run_to_completion(agg, "complete", f"stream_enrich_{n_chunks}")
    return res.select(
        F.unix_timestamp(F.col("w.start")).cast("bigint").alias("win_start"),
        F.col("c_mktsegment").alias("segment"),
        "n_events",
    )
