"""True Structured Streaming behavior (SURVEY.md §5.6): watermark
late-data handling and streaming dedup, validated against the strict
batch emulations in streaming/windows.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def test_streaming_tumbling_respects_watermark_sandwich(spark):
    """Streaming (per-batch watermark) drops no more than the strict
    per-row emulation and no less than nothing:
      strict_emulation <= streaming <= no_watermark   (per window/type).
    """
    import __spark_entry__ as e
    from spark_clustering_spark.streaming.harness import stream_tumbling_counts

    streamed = {
        (r["win_start"], r["event_type"]): r["n_events"]
        for r in stream_tumbling_counts(spark, SF_SMALL).collect()
    }
    assert streamed, "streaming produced no windows"

    strict = {
        (r["win_start"], r["event_type"]): r["n_events"]
        for r in e.queries()["q_stream_watermark"](spark, SF_SMALL).collect()
    }
    full = {
        (r["win_start"], r["event_type"]): r["n_events"]
        for r in e.queries()["q_stream_tumbling"](spark, SF_SMALL).collect()
    }
    # append mode emits a window only once the watermark passes its end;
    # windows near the stream's end are never finalized — assert the
    # sandwich on emitted windows, and completeness for windows that
    # ended well before the final watermark.
    for key, n_stream in streamed.items():
        assert strict.get(key, 0) <= n_stream <= full[key], (
            key, strict.get(key, 0), n_stream, full[key],
        )
    from spark_clustering_spark.io import table as load

    max_ts = (
        load(spark, SF_SMALL, "events")
        .agg(F.max(F.unix_timestamp("ts").cast("bigint")))
        .collect()[0][0]
    )
    finalized_cutoff = max_ts - 3600 - 2 * 600  # window len + 2x watermark slack
    for key, n_full in full.items():
        if key[0] + 3600 <= finalized_cutoff:
            assert key in streamed, f"finalized window {key} never emitted"


def test_streaming_dedup_keys_match_batch(spark):
    """dropDuplicatesWithinWatermark emits each (user, type) key at
    least once and never more often than its total occurrence count;
    the key set equals the batch dedup's key set."""
    import __spark_entry__ as e
    from spark_clustering_spark.streaming.harness import stream_dedup

    res = stream_dedup(spark, SF_SMALL)
    got = res.groupBy("user_id", "event_type").agg(F.count("*").alias("n")).collect()
    got_keys = {(r["user_id"], r["event_type"]) for r in got}

    batch = e.queries()["q_stream_dedup"](spark, SF_SMALL).collect()
    batch_keys = {(r["user_id"], r["event_type"]) for r in batch}
    assert got_keys == batch_keys

    from spark_clustering_spark.io import table as load

    totals = {
        (r["user_id"], r["event_type"]): r["n"]
        for r in load(spark, SF_SMALL, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for r in got:
        assert 1 <= r["n"] <= totals[(r["user_id"], r["event_type"])]



def test_session_window_batch_matches_streaming_operator(spark):
    """session_window evaluates identically in batch and streaming
    micro-batch mode for a fully-replayed source; the batch result is
    the hash-checked surface — sanity: sessions partition all events."""
    import __spark_entry__ as e

    from spark_clustering_spark.io import table as load

    rows = e.queries()["q_stream_session"](spark, SF_SMALL).collect()
    n_events = sum(r["n_events"] for r in rows)
    total = load(spark, SF_SMALL, "events").count()
    assert n_events == total


def test_stream_stream_join_matches_batch(spark):
    """The watermarked stream-stream interval join emits exactly the
    batch join's pairs: the replay is in event-id order and the range
    bound (4h) plus watermark (2h) keeps every matchable pair in state
    until its partner arrives, so append output == batch result."""
    from spark_clustering_spark.streaming.harness import stream_stream_join
    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"
    streamed = {
        (r["view_id"], r["click_id"], r["gap_s"])
        for r in stream_stream_join(spark, sf).collect()
    }
    batch = {
        (r["view_id"], r["click_id"], r["gap_s"])
        for r in e.queries()["q_stream_join"](spark, sf).collect()
    }
    assert batch, "batch join should produce pairs at sf0.001"
    assert streamed == batch


def test_stream_cluster_volume_matches_batch(spark):
    """Every window the readStream replay emits must carry exactly the
    batch query's count (arrival is vec_id order == event-time order,
    so no row is ever late), and every window that ends before the
    final watermark must have been emitted — only the unexpired tail
    may be withheld by append mode."""
    from spark_clustering_spark.streaming.harness import stream_cluster_volume
    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"
    streamed = {
        (r["win_start"], r["cluster_id"]): r["n_vectors"]
        for r in stream_cluster_volume(spark, sf).collect()
    }
    batch = {
        (r["win_start"], r["cluster_id"]): r["n_vectors"]
        for r in e.queries()["q_stream_cluster_volume"](spark, sf).collect()
    }
    assert streamed, "streaming produced no windows"
    for key, n in streamed.items():
        assert batch[key] == n, (key, n, batch[key])
    max_start = max(k[0] for k in batch)
    # 2h watermark + 1h window: windows ending 3h+ before the last
    # event time are necessarily finalized and must have been emitted
    for key, n in batch.items():
        if key[0] + 3600 <= max_start - 2 * 7200:
            assert key in streamed, f"finalized window {key} never emitted"


def test_stream_topk_matches_batch(spark):
    """The complete-mode streaming aggregate + downstream rank emits
    exactly the batch q_stream_topk rows once the replay drains."""
    import __spark_entry__ as e
    from spark_clustering_spark.streaming.harness import stream_topk

    streamed = {
        (r["win_start"], r["rn"]): (r["event_type"], r["n_events"])
        for r in stream_topk(spark, SF_SMALL).collect()
    }
    batch = {
        (r["win_start"], r["rn"]): (r["event_type"], r["n_events"])
        for r in e.queries()["q_stream_topk"](spark, SF_SMALL).collect()
    }
    assert streamed == batch


def test_stream_kmeans_matches_numpy_replay(spark):
    import numpy as np

    from spark_clustering_spark.operators.clustering import points_df
    from spark_clustering_spark.streaming.kmeans import fit_kmeans_stream

    sf = "/root/testdata/sf0.001"
    k, n_chunks, decay = 8, 4, 1.0
    got = {
        r.cluster_id: r
        for r in fit_kmeans_stream(
            spark, sf, k=k, n_chunks=n_chunks, decay=decay
        ).collect()
    }
    pts = sorted(
        (r.vec_id, np.array(list(r.vec), dtype=np.float64))
        for r in points_df(spark, sf).collect()
    )
    ids = np.array([i for i, _ in pts])
    mat = np.stack([v for _, v in pts])
    centers = mat[:k].copy()  # init: k lowest vec_ids
    weights = np.zeros(k)
    n = int(ids.max()) + 1
    chunk = max(1, n // n_chunks + (n % n_chunks > 0))
    batches = 0
    for lo in range(0, n, chunk):
        m = (ids >= lo) & (ids < lo + chunk)
        if not m.any():
            continue
        V = mat[m]
        d = ((V[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        lab = d.argmin(axis=1)
        for c in range(k):
            sel = lab == c
            nb = float(sel.sum())
            if not nb:
                continue
            n_eff = weights[c] * decay
            centers[c] = (centers[c] * n_eff + V[sel].sum(axis=0)) / (
                n_eff + nb
            )
            weights[c] = n_eff + nb
        batches += 1
    assert set(got) == set(range(k))
    total = sum(r.n_weight for r in got.values())
    assert abs(total - len(ids)) < 1e-9  # decay=1: every point counted once
    for c in range(k):
        g = got[c]
        assert g.n_batches == batches
        assert abs(g.n_weight - weights[c]) < 1e-9
        assert np.allclose(np.array(list(g.center)), centers[c], atol=1e-8)


def test_stream_kmeans_raises_when_its_drain_times_out(spark, monkeypatch):
    """A stream fit whose replay does not drain is a wrong fit, not a
    result: fit_kmeans_stream must raise, and the harness drain's
    timeout path must leave no query running."""
    import pytest

    from spark_clustering_spark.streaming import harness, kmeans

    def timed_out(q, timeout=300):
        harness._drain(q, timeout=0.001)  # the real stop path
        return False

    monkeypatch.setattr(kmeans, "_drain", timed_out)
    with pytest.raises(TimeoutError, match="did not drain"):
        kmeans.fit_kmeans_stream(spark, SF_SMALL, k=4, n_chunks=3)
    assert not spark.streams.active


def test_stream_upsert_matches_batch_collapse(spark):
    from pyspark.sql import functions as F

    from spark_clustering_spark.operators.scans import (
        q_cdc_apply_changelog,
    )
    from spark_clustering_spark.streaming.harness import stream_upsert

    sf = "/root/testdata/sf0.001"
    got = {
        r.user_id: (r.last_ts, r.last_type, r.last_k)
        for r in stream_upsert(spark, sf, n_chunks=5).collect()
    }
    ref = {
        r.user_id: (r.last_ts, r.last_type, r.last_k)
        for r in q_cdc_apply_changelog(spark, sf).collect()
    }
    assert got == ref  # chunking-invariant last-writer-wins

    # different chunking, same final state (associativity); run on a
    # session whose width is unset, which the stream must leave unset
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)  # the fixture's session sets it explicitly
    spark.conf.unset(key)
    try:
        got3 = {
            r.user_id: (r.last_ts, r.last_type, r.last_k)
            for r in stream_upsert(spark, sf, n_chunks=3).collect()
        }
        assert spark.conf.get(key, None) is None
    finally:
        spark.conf.set(key, saved)
    assert got3 == ref


def test_replay_chunk_writes_keep_callers_job_group(spark, tmp_path):
    """The concurrent chunk writes run from a driver thread pool; every
    job they submit must carry the caller's job group, as the serial
    loop's jobs would."""
    from spark_clustering_spark.streaming.harness import write_replay_chunks

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    df = spark.range(0, 700).withColumnRenamed("id", "row_id")
    bus.waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("replay_chunks", "write_replay_chunks job-group test")
    try:
        write_replay_chunks(df, "row_id", str(tmp_path / "replay"), 7)
    finally:
        sc._jsc.clearJobGroup()
    bus.waitUntilEmpty()
    assert not set(tracker.getJobIdsForGroup(None)) - ungrouped
    assert len(tracker.getJobIdsForGroup("replay_chunks")) >= 8


def test_stream_kmeans_matches_mllib_streaming_kmeans(spark):
    """fit_kmeans_stream implements MLlib's StreamingKMeans update rule
    exactly: replaying the same chunks in the same order through
    pyspark.mllib.clustering.StreamingKMeansModel.update (decayFactor,
    timeUnit='batches') lands on the same centers and weights (VERDICT
    r5 task 2 — the StreamingKMeans comparison for the stream fit)."""
    import numpy as np
    from pyspark.mllib.clustering import StreamingKMeansModel

    from spark_clustering_spark.operators.clustering import points_df
    from spark_clustering_spark.streaming.kmeans import fit_kmeans_stream

    sf = "/root/testdata/sf0.001"
    k, n_chunks = 8, 4
    for decay in (1.0, 0.6):
        got = {
            r.cluster_id: r
            for r in fit_kmeans_stream(
                spark, sf, k=k, n_chunks=n_chunks, decay=decay
            ).collect()
        }
        pts = sorted(
            (r.vec_id, np.array(list(r.vec), dtype=np.float64))
            for r in points_df(spark, sf).collect()
        )
        ids = np.array([i for i, _ in pts])
        mat = np.stack([v for _, v in pts])
        model = StreamingKMeansModel(
            clusterCenters=[c.tolist() for c in mat[:k]],
            clusterWeights=[0.0] * k,
        )
        n = int(ids.max()) + 1
        chunk = max(1, n // n_chunks + (n % n_chunks > 0))
        sc = spark.sparkContext
        for lo in range(0, n, chunk):
            m = (ids >= lo) & (ids < lo + chunk)
            if not m.any():
                continue
            rdd = sc.parallelize([v.tolist() for v in mat[m]], 2)
            model.update(rdd, decay, "batches")
        centers = np.array(model.centers)
        weights = np.array(model.clusterWeights, dtype=np.float64)
        for c in range(k):
            assert abs(got[c].n_weight - weights[c]) < 1e-6, (decay, c)
            assert np.allclose(
                np.array(list(got[c].center)), centers[c], atol=1e-6
            ), (decay, c)


def test_stream_sliding_matches_batch_two_chunkings(spark):
    """VERDICT r5 task 4: the real streaming sliding-window aggregate
    (complete mode, drained replay) equals the batch q_stream_sliding
    surface exactly, for two different chunkings."""
    import __spark_entry__ as e
    from spark_clustering_spark.streaming.harness import stream_sliding_counts

    batch = {
        (r["win_start"], r["event_type"]): r["n_events"]
        for r in e.queries()["q_stream_sliding"](spark, SF_SMALL).collect()
    }
    for n_chunks in (3, 8):
        streamed = {
            (r["win_start"], r["event_type"]): r["n_events"]
            for r in stream_sliding_counts(spark, SF_SMALL, n_chunks=n_chunks).collect()
        }
        assert streamed == batch, n_chunks


def test_stream_session_matches_batch_two_chunkings(spark):
    """Real streaming session_window (complete mode): sessions spanning
    micro-batch boundaries merge in state, so the drained replay equals
    the batch gaps-and-islands surface exactly, for two chunkings."""
    import __spark_entry__ as e
    from spark_clustering_spark.streaming.harness import stream_session_counts

    batch = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in e.queries()["q_stream_session"](spark, SF_SMALL).collect()
    }
    for n_chunks in (3, 8):
        streamed = {
            (r["user_id"], r["session_start"]): r["n_events"]
            for r in stream_session_counts(spark, SF_SMALL, n_chunks=n_chunks).collect()
        }
        assert streamed == batch, n_chunks


def test_stream_enrich_matches_batch_two_chunkings(spark):
    """Real stream-static broadcast enrichment join + windowed
    aggregate equals the batch q_stream_enrich surface (counts; the
    sum_value column is bench-surface-only here) on two chunkings."""
    import __spark_entry__ as e
    from spark_clustering_spark.streaming.harness import stream_enrich_counts

    batch = {
        (r["win_start"], r["segment"]): r["n_events"]
        for r in e.queries()["q_stream_enrich"](spark, SF_SMALL).collect()
    }
    for n_chunks in (3, 8):
        streamed = {
            (r["win_start"], r["segment"]): r["n_events"]
            for r in stream_enrich_counts(spark, SF_SMALL, n_chunks=n_chunks).collect()
        }
        assert streamed == batch, n_chunks


def test_drain_timeout_stops_query_before_source_cleanup(spark):
    """Slow-drain guard (VERDICT r7 task 6): when a drain exceeds its
    timeout, _drain must STOP the query before its replay dir can go —
    the next scratch() of the replay's name deletes it, and deleting a
    live FileStreamSource's input turns a benign timeout into a stream
    failure. Exercise the timeout path for real: a file stream on a
    processingTime trigger never self-terminates, so a 1-second _drain
    must return False, leave the query inactive, and make the
    subsequent source-dir deletion safe (no stream error surfaces
    afterwards)."""
    import os

    from spark_clustering_spark.io import scratch
    from spark_clustering_spark.streaming.harness import (
        _drain,
        _read_stream,
        replay_dir,
    )

    replay = replay_dir(spark, SF_SMALL, n_chunks=3)
    q = (
        _read_stream(spark, replay)
        .writeStream.format("memory")
        .queryName("drain_timeout_probe")
        .outputMode("append")
        .trigger(processingTime="10 minutes")  # never self-terminates
        .start()
    )
    try:
        terminated = _drain(q, timeout=1)
        assert terminated is False  # the timeout path actually ran
        assert not q.isActive  # stopped BEFORE the dir is deleted
        assert q.exception() is None  # a guard that errors is no guard
    finally:
        if q.isActive:
            q.stop()
        scratch(os.path.basename(replay))  # what the next replay does


def test_stream_rerun_replaces_its_memory_sink_view(spark):
    """A memory sink is named by its call site, so a second run of the
    same stream replaces its temp view instead of adding one, while the
    frame the first run returned still reads its own sink's rows."""
    from spark_clustering_spark.streaming.harness import stream_dedup

    def n_views() -> int:
        return sum(t.isTemporary for t in spark.catalog.listTables())

    first = stream_dedup(spark, SF_SMALL)
    rows = sorted(first.collect())
    n = n_views()
    second = stream_dedup(spark, SF_SMALL, watermark="365 days")
    assert n_views() == n
    assert sorted(first.collect()) == rows
    assert sorted(second.collect()) != rows
