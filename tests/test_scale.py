"""Scale-path features: bucketed co-located joins, salted skew joins,
stateful streaming, IVF recall."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_clustering_spark.plans.explain import formatted_plan
from tests.conftest import SF_SMALL


def test_bucketed_join_has_no_exchange(spark):
    from spark_clustering_spark.sources.bucketed import (
        bucketed_table_names,
        create_bucketed_tables,
    )

    create_bucketed_tables(spark, SF_SMALL)
    names = bucketed_table_names(SF_SMALL)
    # the merge hint asks the planner for the large-large join path
    # (the 100 TB case, neither side broadcastable); at test scale it
    # would otherwise broadcast the small side and skip the bucketed scan
    join_plan = formatted_plan(
        spark.table(names["orders"])
        .hint("merge")
        .join(
            spark.table(names["lineitem"]),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
    )
    assert "Exchange" not in join_plan, join_plan[:1500]
    assert "SortMergeJoin" in join_plan
    assert "Bucketed: true" in join_plan
    # and the result matches the unbucketed join
    from spark_clustering_spark.io import table

    expected = (
        table(spark, SF_SMALL, "orders")
        .join(
            table(spark, SF_SMALL, "lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .count()
    )
    got = (
        spark.table(names["orders"])
        .join(
            spark.table(names["lineitem"]),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .count()
    )
    assert got == expected


def test_salted_join_matches_plain_join(spark):
    from spark_clustering_spark.functions.skew import salted_join
    from spark_clustering_spark.io import table

    li = table(spark, SF_SMALL, "lineitem")
    p = table(spark, SF_SMALL, "part").select("p_partkey", "p_brand")
    plain = li.join(p, li.l_partkey == p.p_partkey).select(
        "l_orderkey", "l_linenumber", "p_brand"
    )
    salted = salted_join(
        li, p, "l_partkey", "p_partkey", salt_source="l_orderkey", n_salts=4
    ).select("l_orderkey", "l_linenumber", "p_brand")
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_stateful_user_engagement(spark):
    """applyInPandasWithState accumulates exact per-user totals across
    micro-batches."""
    from spark_clustering_spark.io import table
    from spark_clustering_spark.streaming.stateful import run_user_engagement

    # run on a session whose width is unset: the stream must leave the
    # caller's conf as it found it
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)  # the fixture's session sets it explicitly
    spark.conf.unset(key)
    try:
        final = {
            r["user_id"]: (r["n_events"], r["sum_cents"])
            for r in run_user_engagement(spark, SF_SMALL).collect()
        }
        assert spark.conf.get(key, None) is None
    finally:
        spark.conf.set(key, saved)
    expected = {
        r["user_id"]: (r["n"], r["s"])
        for r in table(spark, SF_SMALL, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("s"),
        )
        .collect()
    }
    assert set(final) == set(expected)
    for u, (n, s) in expected.items():
        assert final[u][0] == n
        assert final[u][1] == s  # integer cents: exact across chunkings




def test_ivf_recall_vs_bruteforce(spark):
    """Trained IVF (nprobe=4/nlist=16) must recover >= 0.6 of the exact
    top-10. The bar is set by measurement, not hope: the synthetic
    embeddings are uniform random unit vectors (no cluster structure),
    which caps nprobe=4 recall near 0.67 however the quantizer is
    trained — see PERF.md's recall table. Raised from 0.5 when the
    Lloyd-trained quantizer replaced the raw-seed cells."""
    import __spark_entry__ as e

    qs = e.queries()
    exact = {}
    for r in qs["q_sim_topk_cosine"](spark, SF_SMALL).collect():
        exact.setdefault(r["probe_id"], set()).add(r["cand_id"])
    approx = {}
    for r in qs["q_sim_topk_ivf"](spark, SF_SMALL).collect():
        approx.setdefault(r["probe_id"], set()).add(r["cand_id"])
    recalls = [
        len(exact[p] & approx.get(p, set())) / len(exact[p]) for p in exact
    ]
    assert sum(recalls) / len(recalls) >= 0.6, recalls


def test_ivf_recall_monotone_in_nprobe(spark):
    """Searching more lists can only add candidates, so recall must be
    non-decreasing in nprobe — and nprobe=nlist is exhaustive, i.e.
    exact brute force."""
    from pyspark.sql import functions as F

    from spark_clustering_spark.functions.distance import as_double_array
    from spark_clustering_spark.io import table
    from spark_clustering_spark.pipeline.similarity import (
        cosine_topk_fast,
        ivf_nlist,
        ivf_topk,
        ivf_train,
    )

    ve = table(spark, SF_SMALL, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("vec")
    ).persist()
    probes = ve.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("vec").alias("pvec")
    )
    exact: dict[int, set[int]] = {}
    for r in cosine_topk_fast(
        ve, probes.select(F.col("probe_id").alias("vec_id"), F.col("pvec").alias("vec")), k=10
    ).collect():
        exact.setdefault(r["probe_id"], set()).add(r["cand_id"])
    coarse = ivf_train(ve).persist()
    nlist = ivf_nlist(ve.count())
    prev = -1.0
    for nprobe in (1, 4, nlist):
        approx: dict[int, set[int]] = {}
        for r in ivf_topk(ve, coarse, probes, nprobe=nprobe, k=10).collect():
            approx.setdefault(r["probe_id"], set()).add(r["cand_id"])
        rec = sum(
            len(exact[p] & approx.get(p, set())) / len(exact[p]) for p in exact
        ) / len(exact)
        assert rec >= prev, (nprobe, rec, prev)
        prev = rec
    assert prev == 1.0  # nprobe = nlist searches everything -> exact
    ve.unpersist()
    coarse.unpersist()


def test_ntile_scalable_invariants_at_1m_rows(spark):
    """Scale check without an exact single-partition twin: on 1M rows
    the sliced ntile must produce tiles whose sizes differ by
    at most 1 (remainder spread over the leading tiles) and whose key
    ranges are monotone non-overlapping — the two properties that define
    ntile — while the plan stays free of single-partition exchanges."""
    from spark_clustering_spark.operators.windows import ntile_scalable

    n, k = 1_000_000, 10
    df = spark.range(n).select(
        F.col("id").alias("rid"), (F.col("id") * 2654435761 % 1_000_003).alias("key")
    )
    t = ntile_scalable(df, ["key", "rid"], k, num_partitions=32, out_col="tile")
    stats = (
        t.groupBy("tile")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("key").alias("kmin"),
            F.max("key").alias("kmax"),
        )
        .orderBy("tile")
        .collect()
    )
    assert len(stats) == k
    sizes = [r["cnt"] for r in stats]
    assert sum(sizes) == n
    assert max(sizes) - min(sizes) <= 1
    assert sizes == sorted(sizes, reverse=True)  # remainder in leading tiles
    for prev, cur in zip(stats, stats[1:]):
        assert prev["kmax"] <= cur["kmin"]  # ranges monotone (ties only at edges)


def test_blocked_gemm_invariant_to_block_count(spark):
    """The blocked all-pairs GEMM must return identical pairs for any
    n_blocks (blocking is an execution detail, not a semantic one) —
    including n_blocks=1, the degenerate single-block case, and
    n_blocks=None, the count-derived grid.
    broadcast_elems=0 forces the blocked cogroup path (at test scale
    the size gate would otherwise route every call through the
    broadcast kernel and this test would compare a single code path to
    itself); a final broadcast-path run asserts the two kernels agree
    pair-for-pair on the same input."""
    from spark_clustering_spark.functions.distance import as_double_array
    from spark_clustering_spark.io import table
    from spark_clustering_spark.pipeline.dedup import embedding_near_dup_pairs

    e = table(spark, SF_SMALL, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("vec")
    )
    results = {}
    for nb in (1, 3, 8, None):
        rows = embedding_near_dup_pairs(
            e, threshold=0.4, n_blocks=nb, broadcast_elems=0
        ).collect()
        results[nb] = {(r["a_id"], r["b_id"], round(r["cos_raw"], 10)) for r in rows}
    assert results[1] == results[3] == results[8] == results[None]
    assert len(results[1]) > 0  # non-vacuous at this threshold

    bcast = embedding_near_dup_pairs(
        e, threshold=0.4, broadcast_elems=2**40
    ).collect()
    bset = {(r["a_id"], r["b_id"], round(r["cos_raw"], 10)) for r in bcast}
    assert bset == results[1]  # broadcast and blocked kernels agree


def test_lsh_bucket_pairs_hot_bucket_streams_and_matches_self_join(spark):
    """A pathological hot bucket (300 identical docs sharing every
    band) must (a) complete via the chained-generator expansion without
    materializing the O(b²) pair array as one value, (b) produce
    exactly C(300,2) pairs with n_bands = 4, and (c) agree pair-for-
    pair with the reference band self-join formulation."""
    from spark_clustering_spark.pipeline.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )

    rows = [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(300)]
    rows += [(1000 + i, f"unique text {i} nothing shared here at all {i}") for i in range(20)]
    d = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    sig = minhash_signatures(shingles(d)).persist()
    got = lsh_candidate_pairs(sig)
    hot = got.filter(F.col("doc_a") < 1000).persist()
    n_hot = hot.count()
    assert n_hot == 300 * 299 // 2, n_hot
    assert hot.filter(F.col("n_bands") != 4).count() == 0

    # reference: the pre-rewrite band self-join
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(bi).alias("band"),
                    F.concat_ws(",", *[
                        F.element_at("sig", bi * 4 + r + 1).cast("string")
                        for r in range(4)
                    ]).alias("key"),
                )
                for bi in range(4)
            ])
        ).alias("b"),
    ).select("doc_id", "b.band", "b.key")
    a, b = bands.alias("a"), bands.alias("b")
    ref = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )
    assert got.exceptAll(ref).count() == 0 and ref.exceptAll(got).count() == 0
    hot.unpersist()
    sig.unpersist()


def test_pq_codes_valid_and_training_reduces_error(spark):
    """Every (vector, subspace) gets exactly one code from the trained
    codebook, and one Lloyd step must not increase total quantization
    error vs the raw seeds (Lloyd is monotone on the objective)."""
    from pyspark.sql import functions as F

    from spark_clustering_spark.functions.distance import as_double_array
    from spark_clustering_spark.io import table
    from spark_clustering_spark.pipeline.similarity import (
        PQ_K,
        PQ_SUBS,
        pq_encode,
        pq_train,
    )

    ve = table(spark, SF_SMALL, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("vec")
    ).persist()
    n = ve.count()
    err = {}
    for it in (0, 1):
        codes = pq_encode(ve, pq_train(ve, n_iter=it)).persist()
        assert codes.count() == n * PQ_SUBS
        assert codes.groupBy("vec_id", "s").count().filter("count > 1").count() == 0
        assert codes.filter(~F.col("code").between(0, 10**9)).count() == 0
        err[it] = codes.agg(F.sum("qdist")).collect()[0][0]
        codes.unpersist()
    assert err[1] <= err[0] + 1e-9, err
    ve.unpersist()


def test_pq_adc_recall_vs_bruteforce(spark):
    """ADC ranks by compressed 32-bit-per-vector representations; it
    must still recover a meaningful share of the exact L2 top-10 (bar
    set by measurement on the structureless random unit vectors)."""
    import __spark_entry__ as e
    from pyspark.sql import functions as F

    from spark_clustering_spark.functions.distance import (
        as_double_array,
        euclidean,
    )
    from spark_clustering_spark.io import table
    from spark_clustering_spark.pipeline.similarity import N_PROBES

    qs = e.queries()
    ve = table(spark, SF_SMALL, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("vec")
    ).persist()
    probes = ve.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("vec").alias("pvec")
    )
    from pyspark.sql.window import Window

    pairs = ve.join(F.broadcast(probes), F.col("vec_id") != F.col("probe_id"))
    w = Window.partitionBy("probe_id").orderBy(
        euclidean(F.col("vec"), F.col("pvec")).asc(), F.col("vec_id")
    )
    exact: dict[int, set[int]] = {}
    for r in (
        pairs.select("probe_id", "vec_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 10)
        .collect()
    ):
        exact.setdefault(r["probe_id"], set()).add(r["vec_id"])
    approx: dict[int, set[int]] = {}
    for r in qs["q_sim_pq_adc_topk"](spark, SF_SMALL).collect():
        approx.setdefault(r["probe_id"], set()).add(r["cand_id"])
    rec = sum(
        len(exact[p] & approx.get(p, set())) / len(exact[p]) for p in exact
    ) / len(exact)
    assert rec >= 0.3, rec
    ve.unpersist()


def test_ivfpq_recall_and_candidate_bounding(spark):
    """IVFPQ must (a) only return candidates from the probe's nprobe
    lists (candidate bounding is the point), and (b) recover a
    meaningful share of the exact top-10 despite 4-byte codes."""
    import __spark_entry__ as e
    from pyspark.sql import functions as F

    from spark_clustering_spark.functions.distance import (
        as_double_array,
        euclidean,
    )
    from spark_clustering_spark.io import table
    from spark_clustering_spark.pipeline.similarity import N_PROBES

    qs = e.queries()
    ve = table(spark, SF_SMALL, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("vec")
    ).persist()
    probes = ve.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("vec").alias("pvec")
    )
    from pyspark.sql.window import Window

    pairs = ve.join(F.broadcast(probes), F.col("vec_id") != F.col("probe_id"))
    w = Window.partitionBy("probe_id").orderBy(
        euclidean(F.col("vec"), F.col("pvec")).asc(), F.col("vec_id")
    )
    exact: dict[int, set[int]] = {}
    for r in (
        pairs.select("probe_id", "vec_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 10)
        .collect()
    ):
        exact.setdefault(r["probe_id"], set()).add(r["vec_id"])
    rows = qs["q_sim_ivfpq_topk"](spark, SF_SMALL).collect()
    approx: dict[int, set[int]] = {}
    for r in rows:
        approx.setdefault(r["probe_id"], set()).add(r["cand_id"])
        assert r["adc"] >= 0
    assert set(approx) == set(range(N_PROBES))
    assert all(len(v) == 10 for v in approx.values())
    rec = sum(
        len(exact[p] & approx.get(p, set())) / len(exact[p]) for p in exact
    ) / len(exact)
    assert rec >= 0.2, rec  # list-bounded + 4-byte codes on random data
    ve.unpersist()


def test_semdedup_gemm_path_matches_expression_path(spark):
    """The BLAS per-cluster scale path emits exactly the expression
    path's candidate pairs on the same trained assignment."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    from spark_clustering_spark.functions.distance import (
        as_double_array,
        cosine,
        euclidean,
    )
    from spark_clustering_spark.io import table
    from spark_clustering_spark.pipeline.similarity import (
        ivf_train,
        semdedup_pairs_gemm,
    )

    ve = table(spark, SF_SMALL, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("vec")
    )
    cents = ivf_train(ve)
    pairs = ve.crossJoin(F.broadcast(cents)).withColumn(
        "cdist", euclidean(F.col("vec"), F.col("cvec"))
    )
    wa = Window.partitionBy("vec_id").orderBy("cdist", "cid")
    assign = (
        pairs.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") == 1)
        .select("vec_id", "vec", "cid")
        .persist()
    )
    tau = 0.3
    a = assign.select("cid", F.col("vec_id").alias("keep_id"), F.col("vec").alias("va"))
    b = assign.select("cid", F.col("vec_id").alias("drop_id"), F.col("vec").alias("vb"))
    expr_pairs = {
        (r["keep_id"], r["drop_id"])
        for r in a.join(b, "cid")
        .filter(F.col("keep_id") < F.col("drop_id"))
        .filter(cosine(F.col("va"), F.col("vb")) >= tau)
        .select("keep_id", "drop_id")
        .collect()
    }
    gemm_pairs = {
        (r["keep_id"], r["drop_id"])
        for r in semdedup_pairs_gemm(assign, threshold=tau).collect()
    }
    assign.unpersist()
    assert gemm_pairs == expr_pairs
    assert len(expr_pairs) > 0  # non-vacuous at this tau
