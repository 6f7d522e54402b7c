"""Round-12 optimization invariants.

Round-12 changes must be plan-only: the scale-adaptive small-path edge
partitioning, the packed-key id guard, and the session-artifact store
with its one eviction rule (a new (app, sf_dir) scope drops every other
scope's entries) may change HOW results are computed, never WHAT.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_wedge_spread_widens_probe_to_cluster_parallelism(spark):
    """The wedge queries' small paths spread their probe stream across
    the cluster (VERDICT r11 item 1: the fused map-side wedge build ran
    on the shared checkpoint's 4-10 partitions) WITHOUT touching the
    shared edge checkpoint layout (widening it regressed cheap
    consumers: kcore 3.0->4.7 s). The helper must hit exactly
    defaultParallelism, and the small-path plan must carry its
    round-robin exchange."""
    from spark_clustering_spark.operators import graph

    par = spark.sparkContext.defaultParallelism
    df = spark.range(100).select(F.col("id").alias("u"))
    assert graph._wedge_spread(df).rdd.getNumPartitions() == par

    plan = (
        graph.q_graph_jaccard_linkpred(spark, SF_SMALL)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "roundrobin" in plan.lower()


def test_packed_key_guard_routes_large_ids_to_shuffle_path(spark, monkeypatch):
    """The broadcast small path packs (u,v) into one BIGINT, lossless
    only for ids in [0, 2^31). ADVICE r11: the gate must enforce that
    bound. An edge set whose ids exceed it must (a) fail the gate and
    (b) still return rows identical to the same graph at small ids,
    shifted — proving the fallback path computes the same thing.

    The two edge sets are built, gated and dropped in turn under ONE
    sf_dir: same row count, ids on either side of 2^31. The second,
    transient frame may reuse the first one's object id, so each must
    get its own gate result from the stats stored beside its own edges
    — nothing in the store is keyed by object identity."""
    from spark_clustering_spark.io import pin, release
    from spark_clustering_spark.operators import graph

    shift = 1 << 31
    base_edges = [(i, j) for i in range(1, 12) for j in range(i + 1, 13)
                  if (i * 7 + j) % 3 != 0]
    sf_dir = "/fake/packed_key_guard"

    def _gate_and_run(offset):
        monkeypatch.setattr(
            graph,
            "_build_edges",
            lambda s, d, cap: pin(
                spark.createDataFrame(
                    [(u + offset, v + offset) for u, v in base_edges],
                    "u bigint, v bigint",
                )
            ),
        )
        ok = graph._bcast_path_ok(spark, sf_dir, 5)
        r = _rows(graph.q_graph_jaccard_linkpred(spark, sf_dir))
        aa = _rows(graph.q_graph_adamic_adar(spark, sf_dir))
        release()
        return ok, r, aa

    small_ok, r_small, aa_small = _gate_and_run(0)
    big_ok, r_big, aa_big = _gate_and_run(shift)
    assert small_ok
    assert not big_ok

    assert len(r_small) > 0 and len(aa_small) > 0
    # same graph, ids shifted: every (u, v, ...) row must match 1:1
    assert r_big == [(u + shift, v + shift, *rest) for u, v, *rest in r_small]
    assert aa_big == [
        (u + shift, v + shift, *rest) for u, v, *rest in aa_small
    ]


def test_store_evicts_other_scopes(spark, monkeypatch):
    """The session-artifact store must not grow without bound across
    sf_dirs (ADVICE r11): inserting an artifact for a new (app, sf_dir)
    scope drops every entry of every other scope — the edge pin, the
    stats stored beside it and the trained quantizer alike."""
    from spark_clustering_spark.io import artifact, release
    from spark_clustering_spark.operators import graph
    from spark_clustering_spark.pipeline import similarity as s

    builds = []

    def fake_edges(sp, d, cap):
        # each build has one more edge, so a rebuild shows in the stats
        builds.append(d)
        return spark.createDataFrame(
            [(i, i + 1) for i in range(len(builds))], "u bigint, v bigint"
        )

    monkeypatch.setattr(graph, "_build_edges", fake_edges)
    monkeypatch.setattr(s, "_table_ve", lambda sp, d: None)
    monkeypatch.setattr(s, "ivf_train", lambda ve: spark.range(1))
    a, b = "/fake/sf_a", "/fake/sf_b"

    edges = graph.basket_edges(spark, a, cap=5)
    ivf = s.table_ivf_train(spark, a)
    assert graph._edge_stats(spark, a, 5) == (1, 0, 1)
    # within a scope every kind is built once and then served
    assert graph.basket_edges(spark, a, cap=5) is edges
    assert s.table_ivf_train(spark, a) is ivf
    assert graph._edge_stats(spark, a, 5) == (1, 0, 1)
    assert builds == [a]

    artifact(spark, b, "ivf", lambda: spark.range(1))
    # scope a was dropped whole: each of its kinds rebuilds
    assert graph.basket_edges(spark, a, cap=5) is not edges
    assert graph._edge_stats(spark, a, 5) == (2, 0, 2)
    assert s.table_ivf_train(spark, a) is not ivf
    assert builds == [a, a]
    release()


def test_evicted_edge_pins_are_reclaimed(spark):
    """ADVICE r11's "pins accumulate across sf_dirs" as a number: the
    executor-side pins of an evicted edge artifact must leave
    getPersistentRDDs the moment their scope is dropped (eviction
    unpersists an entry's pins; no garbage collection is involved),
    bringing the count back to where it started."""
    from spark_clustering_spark.io import artifact, release
    from spark_clustering_spark.operators import graph

    jsc = spark.sparkContext._jsc

    def pinned():
        return set(jsc.getPersistentRDDs().keySet())

    release()
    before = pinned()
    start = len(before)
    graph._edge_stats(spark, SF_SMALL, 5)  # builds and materializes the pin
    ours = pinned() - before
    assert ours

    artifact(spark, "/fake/other_scope", "marker", lambda: 0)  # evicts
    now = pinned()
    assert not (ours & now), sorted(ours & now)
    assert len(now) <= start
    release()


def test_ivfpq_residual_codebook_cache_is_result_identical(spark, monkeypatch):
    """The residual-PQ codebook is trained once per (app, sf_dir) into
    the session-artifact store and served from it on re-execution.
    Stored-serve and fresh-train runs must return byte-identical rows."""
    from spark_clustering_spark.io import release
    from spark_clustering_spark.pipeline import similarity as s

    trained = []
    pq_train = s.pq_train

    def counting_pq_train(ve):
        trained.append(1)
        return pq_train(ve)

    monkeypatch.setattr(s, "pq_train", counting_pq_train)
    release()
    fresh = _rows(s.q_sim_ivfpq_topk(spark, SF_SMALL))
    assert len(trained) == 1
    cached = _rows(s.q_sim_ivfpq_topk(spark, SF_SMALL))
    assert len(trained) == 1
    assert fresh == cached and len(fresh) > 0
    release()
