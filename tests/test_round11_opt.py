"""Round-11 optimization invariants.

The round-11 changes must be plan-only: the wedge-family broadcast
small path, the trained quantizers shared through the session-artifact
store, and the codegen-cache static conf may change HOW results are
computed, never WHAT. These tests pin that contract at sf0.001.
"""

from __future__ import annotations

from tests.conftest import SF_SMALL


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_wedge_small_path_matches_shuffle_path(spark):
    """Each wedge-family query must produce byte-identical rows on the
    broadcast small path (default at sf0.001) and the count-derived
    repartition path (forced by lowering the gate), including
    adamic_adar's BIGINT micro-unit sum vs the decimal(38,6) sum."""
    from spark_clustering_spark.operators import graph

    queries = [
        graph.q_graph_triangles,
        graph.q_graph_clustering_coeff,
        graph.q_graph_jaccard_linkpred,
        graph.q_graph_adamic_adar,
    ]
    small = {q.__name__: _rows(q(spark, SF_SMALL)) for q in queries}
    orig = graph.EDGE_BCAST_MAX
    graph.EDGE_BCAST_MAX = -1  # force every gate onto the shuffle path
    try:
        big = {q.__name__: _rows(q(spark, SF_SMALL)) for q in queries}
    finally:
        graph.EDGE_BCAST_MAX = orig
    for name in small:
        assert small[name] == big[name], name
        assert len(small[name]) > 0, name


def test_trainer_cache_identical_to_fresh_training(spark):
    """table_ivf_train/table_pq_train must return exactly what a fresh
    inline training returns, and the store must serve one artifact per
    (app, sf_dir) scope and kind."""
    from spark_clustering_spark.pipeline import similarity as s

    cached = s.table_ivf_train(spark, SF_SMALL)
    fresh = s.ivf_train(s._table_ve(spark, SF_SMALL))
    assert _rows(cached) == _rows(fresh)
    assert s.table_ivf_train(spark, SF_SMALL) is cached

    cached_pq = s.table_pq_train(spark, SF_SMALL)
    fresh_pq = s.pq_train(s._table_ve(spark, SF_SMALL))
    assert _rows(cached_pq) == _rows(fresh_pq)
    assert s.table_pq_train(spark, SF_SMALL) is cached_pq


def test_codegen_cache_sized_to_inventory(spark):
    """The session factory must size the codegen class cache above the
    322-query inventory (default 100 thrashes; ba18f09)."""
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 1000
