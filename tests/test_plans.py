"""Physical-plan contracts (SURVEY.md §4): pushdown, pruning, join
strategy, partial aggregation, top-k. A regression here means a query
still returns right answers but would fall over at 100 TB."""

from __future__ import annotations

import pytest

from spark_clustering_spark.plans.explain import (
    formatted_plan,
    has_node,
    num_shuffles,
    pushed_filters,
    read_schema_columns,
)
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def qs(spark):
    import __spark_entry__ as e

    return e.queries()


def test_scan_projection_prunes_columns(spark, qs):
    cols = read_schema_columns(qs["q_scan_project"](spark, SF_SMALL))
    assert set(cols) == {
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_shipdate",
    }, cols


def test_range_filter_pushed_to_scan(spark, qs):
    pf = " ".join(pushed_filters(qs["q_filter_range"](spark, SF_SMALL)))
    assert "l_shipdate" in pf and "l_quantity" in pf, pf


def test_in_like_filter_pushed(spark, qs):
    pf = " ".join(pushed_filters(qs["q_filter_in_like"](spark, SF_SMALL)))
    assert "p_brand" in pf, pf


def test_broadcast_join_strategy(spark, qs):
    plan = formatted_plan(qs["q_join_broadcast"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_multiway_join_all_broadcast_no_fact_shuffle(spark, qs):
    df = qs["q_join_multiway"](spark, SF_SMALL)
    plan = formatted_plan(df)
    # formatted mode shows each node in the tree AND the details section
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_agg_plans_partial_and_final(spark, qs):
    plan = formatted_plan(qs["q_agg_hash"](spark, SF_SMALL))
    # partial + final HashAggregate pair around one exchange
    assert plan.count("HashAggregate") >= 2, plan[:800]
    # round 12: one deliberate round-robin spread ahead of the seven
    # decimal partial aggregates plus the aggregate exchange — and
    # nothing else. spread() fires iff the lineitem scan has fewer
    # partitions than defaultParallelism (a no-op at real scale where
    # the scan has enough splits), so the plan carries the round-robin
    # exchange exactly then, on any core count.
    from spark_clustering_spark.io import table

    scan_parts = table(spark, SF_SMALL, "lineitem").rdd.getNumPartitions()
    spreads = scan_parts < spark.sparkContext.defaultParallelism
    assert ("RoundRobinPartitioning" in plan) == spreads, (scan_parts, plan[:800])
    assert num_shuffles(qs["q_agg_hash"](spark, SF_SMALL)) <= 4


def test_topk_uses_heap_not_global_sort(spark, qs):
    assert has_node(qs["q_topk_global"](spark, SF_SMALL), "TakeOrderedAndProject")


def test_assignment_is_broadcast_no_data_shuffle_before_agg(spark):
    """The nearest-centroid assignment must broadcast the centroid side;
    the only exchange is the per-point aggregation."""
    from spark_clustering_spark.operators.clustering import (
        assign,
        centroids_df,
        points_df,
    )

    a = assign(points_df(spark, SF_SMALL), centroids_df(spark, SF_SMALL))
    plan = formatted_plan(a)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_lloyd_kernel_shuffles_only_stats(spark):
    """The fit-loop kernel's output is at most k rows per partition and
    center set, independent of data size."""
    import numpy as np

    from spark_clustering_spark.ml.kernels import lloyd_partials
    from spark_clustering_spark.operators.clustering import points_df

    pts = points_df(spark, SF_SMALL)
    vecs = [r["vec"] for r in pts.orderBy("vec_id").limit(8).collect()]
    stack = {0: np.array(vecs[:4]), 1: np.array(vecs[4:])}
    partial = lloyd_partials(pts, stack)
    # partial stats are bounded by runs * k * num_partitions regardless of n
    n_partitions = pts.rdd.getNumPartitions()
    assert partial.count() <= 2 * 4 * max(n_partitions, 1)


def test_dedup_exact_shuffles_digest_not_text(spark, qs):
    """The exact-dedup shuffle key is the md5 digest; the text payload
    must be projected away before the exchange."""
    plan = formatted_plan(qs["q_dedup_exact"](spark, SF_SMALL))
    ex = plan[plan.index("Exchange"):]
    assert "text" not in ex.split("\n")[0]


def test_ntile_scalable_has_no_single_partition_exchange(spark, qs):
    """Neither ntile variant may funnel data through one partition —
    q_window_ntile now delegates to the sliced scale path
    (round-4: closed the last single-partition-sort in the inventory)."""
    plan = formatted_plan(qs["q_window_ntile_scalable"](spark, SF_SMALL))
    assert "SinglePartition" not in plan, plan[:800]
    exact = formatted_plan(qs["q_window_ntile"](spark, SF_SMALL))
    assert "SinglePartition" not in exact, exact[:800]


def test_sim_topk_cosine_broadcasts_probe_side(spark, qs):
    """The exploded pos-join must broadcast the tiny probe side — a
    shuffled join on the d-valued pos key would skew at scale."""
    plan = formatted_plan(qs["q_sim_topk_cosine"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan


def test_sink_partitioned_read_prunes_partitions(spark, qs):
    """The partition filter must reach the scan as PartitionFilters —
    non-matching event_type directories are never listed or opened."""
    plan = formatted_plan(qs["q_sink_partitioned"](spark, SF_SMALL))
    assert "PartitionFilters" in plan
    # the filter must actually carry the predicate, not be empty
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1), plan[:1200]


def test_sessionize_single_shuffle(spark, qs):
    """Both windows (lag, running sum) and the final aggregate must ride
    ONE user_id exchange — grouping keys (user_id, session_idx) are
    co-partitioned by the window's hash partitioning."""
    plan = formatted_plan(qs["q_window_sessionize"](spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1, tree


def test_dedup_embedding_hybrid_gemm_paths(spark, qs):
    """Embedding near-dup is hybrid: a broadcast-sized table runs the
    single-pass broadcast GEMM (one MapInPandas, no cogroup shuffle);
    past the broadcast bound it must fall back to the blocked cogroup
    GEMM (no full-table broadcast, no driver collect)."""
    from spark_clustering_spark.functions.distance import as_double_array
    from spark_clustering_spark.io import table
    from spark_clustering_spark.pipeline.dedup import embedding_near_dup_pairs

    e = table(spark, SF_SMALL, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("vec")
    )
    small = formatted_plan(embedding_near_dup_pairs(e, threshold=0.45))
    assert "MapInPandas" in small and "FlatMapCoGroupsInPandas" not in small
    big = formatted_plan(
        embedding_near_dup_pairs(e, threshold=0.45, broadcast_elems=0)
    )
    assert "FlatMapCoGroupsInPandas" in big


def test_chunking_has_no_shuffle(spark, qs):
    """q_text_chunk is a narrow per-row transform — chunks must be
    emitted where the document partition lives, zero exchanges."""
    assert num_shuffles(qs["q_text_chunk"](spark, SF_SMALL)) == 0


def test_decontaminate_broadcasts_eval_shingles(spark, qs):
    """The eval-slice shingle set is the small side; the train-side
    probe must be a broadcast join (no shuffle of train shingles)."""
    plan = formatted_plan(qs["q_decontaminate"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_min_cost_supplier_subquery_decorrelates(spark, qs):
    """The correlated scalar subquery must rewrite to an aggregate
    joined on partkey — no per-outer-row subplan re-execution node."""
    plan = formatted_plan(qs["q_olap_min_cost_supplier"](spark, SF_SMALL))
    assert "Subquery" not in plan, plan[:2000]
    assert "HashAggregate" in plan or "SortAggregate" in plan


def test_stream_join_is_single_equi_join_no_cross(spark, qs):
    """The interval join must carry the user_id equi-key (hash or
    sort-merge join), never a cartesian/BNL with a time filter."""
    plan = formatted_plan(qs["q_stream_join"](spark, SF_SMALL))
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan, (
        plan[:2000]
    )


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """At 100 TB the shuffle join of a selectively-filtered dim against
    the fact table should inject a runtime bloom filter: the dim side
    builds a bloom_filter_agg and the fact scan applies might_contain
    BEFORE the shuffle, cutting shuffled bytes by the dim filter's
    selectivity. Local datasets are below the size thresholds, so the
    test lowers them to prove the rewrite fires on our join shape."""
    from pyspark.sql import functions as F

    from spark_clustering_spark.io import table

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        o = table(spark, SF_SMALL, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = table(spark, SF_SMALL, "lineitem")
        j = (
            li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan and "bloom_filter_agg" in plan, (
            plan[:2000]
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_priority_check_semi_join_not_subquery(spark, qs):
    """The correlated EXISTS (predicate spans both sides) must plan as
    a single left-semi join on orderkey — no per-row subquery node."""
    plan = formatted_plan(qs["q_olap_priority_check"](spark, SF_SMALL))
    assert "LeftSemi" in plan, plan[:2000]
    assert "Subquery" not in plan, plan[:2000]


def test_waiting_supplier_plans_semi_and_anti(spark, qs):
    """EXISTS and NOT EXISTS against the same fact must decorrelate to
    one left-semi and one left-anti self-join — never a nested-loop
    re-scan per outer row."""
    plan = formatted_plan(qs["q_olap_waiting_supplier"](spark, SF_SMALL))
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan[:2000]
    assert "CartesianProduct" not in plan


def test_sample_mixture_is_stateless_filter(spark, qs):
    """Mixture resampling must be a per-row hash predicate at scan
    speed: zero exchanges in the plan (the whole point of threshold
    sampling over per-source windows)."""
    assert num_shuffles(qs["q_sample_mixture"](spark, SF_SMALL)) == 0


def test_vec_quantize_no_shuffle(spark, qs):
    """int8 quantization is pure per-row array math — zero exchanges,
    single codegen stage over the scan."""
    assert num_shuffles(qs["q_vec_quantize"](spark, SF_SMALL)) == 0


def test_parts_supplier_broadcasts_denylist_and_dim(spark, qs):
    """Q16 shape: the supplier denylist anti-join and the part dim join
    must both broadcast — the only shuffle is the distinct aggregate."""
    plan = formatted_plan(qs["q_olap_parts_supplier"](spark, SF_SMALL))
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    assert "SortMergeJoin" not in plan


def test_range_join_buckets_to_equi_hash_join(spark, qs):
    """The keyless range join must run as a hash equi-join on the
    bucket id with a residual filter — never a BroadcastNestedLoop /
    cartesian scan of the value space."""
    plan = formatted_plan(qs["q_join_range_bucketed"](spark, SF_SMALL))
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan, (
        plan[:2000]
    )
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan[:2000]


def test_market_share_broadcasts_all_dims(spark, qs):
    """Q8 shape: all five dimension joins (nation x2, region, supplier,
    part) must be broadcast — only the fact chain may exchange."""
    plan = formatted_plan(qs["q_olap_market_share"](spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert tree.count("BroadcastHashJoin") >= 5, tree
    # at most the single fact-chain join may shuffle; a dimension join
    # regressing to SMJ pushes the count past 1 and fails here (at test
    # scale the whole chain broadcasts: 0 SMJ / 7 BHJ observed)
    assert tree.count("SortMergeJoin") <= 1, tree


def test_important_parts_single_fact_aggregate(spark, qs):
    """Q11 shape: the global-total scalar subquery must appear as a
    Subquery reuse, not a second full-plan join of the fact table."""
    plan = formatted_plan(qs["q_olap_important_parts"](spark, SF_SMALL))
    assert "Subquery" in plan, plan[:2000]


def test_bigrams_avoids_expand(spark, qs):
    """The bigram doc-frequency must come from the two-level aggregate,
    never count-distinct's Expand node (doubles exploded rows)."""
    plan = formatted_plan(qs["q_text_bigrams"](spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert "Expand" not in tree, tree
    assert "TakeOrderedAndProject" in tree, tree


def test_interval_join_is_hash_join(spark, qs):
    """The interval self-join has an equi key (user_id), so it must be
    a hash/sort-merge equi-join with the band as residual — never a
    BroadcastNestedLoopJoin or CartesianProduct."""
    plan = formatted_plan(qs["q_join_interval"](spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert "NestedLoop" not in tree and "Cartesian" not in tree, tree


def test_anomaly_preaggregates_before_window(spark, qs):
    """The rolling z-score must window over the hourly aggregate, not
    raw events: in the plan tree (parent first, inputs below) an
    aggregate must sit BETWEEN the Window node and the events scan."""
    plan = formatted_plan(qs["q_ts_anomaly"](spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    win = tree.find("Window")
    scan = tree.find("Scan parquet")
    assert win != -1 and scan != -1 and win < scan, tree
    agg_below_window = tree.find("HashAggregate", win)
    assert win < agg_below_window < scan, tree


def test_zorder_layout_prunes_box_queries(spark, qs, tmp_path):
    """A 2-D box predicate on a z-bucket-partitioned lake must prune to
    only the buckets whose z-range intersects the box (PartitionFilters
    in the plan, subset of buckets listed) while returning exactly the
    direct box-filter answer — the 2-D-pruning-from-1-D-layout property
    that motivates Z-ordering."""
    from pyspark.sql import functions as F

    from spark_clustering_spark.io import table
    from spark_clustering_spark.operators.scans import (
        ZORDER_BUCKET_SHIFT,
        zorder_value,
    )

    li = table(spark, SF_SMALL, "lineitem")
    x = F.pmod("l_partkey", F.lit(256))
    y = F.pmod("l_suppkey", F.lit(256))
    keyed = li.select(
        "l_orderkey", "l_linenumber", x.alias("x"), y.alias("y"),
        F.shiftright(zorder_value(x, y), ZORDER_BUCKET_SHIFT).alias("zbucket"),
    )
    out = str(tmp_path / "lineitem")
    keyed.write.mode("overwrite").partitionBy("zbucket").parquet(out)
    lake = spark.read.parquet(out)
    n_buckets = lake.select("zbucket").distinct().count()

    x_lo, x_hi, y_lo, y_hi = 8, 23, 0, 7
    def morton(a: int, b: int) -> int:
        z = 0
        for i in range(8):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    hit = sorted({
        morton(a, b) >> ZORDER_BUCKET_SHIFT
        for a in range(x_lo, x_hi + 1) for b in range(y_lo, y_hi + 1)
    })
    box = (F.col("x").between(x_lo, x_hi)) & (F.col("y").between(y_lo, y_hi))
    pruned = lake.filter(F.col("zbucket").isin(hit) & box)
    plan = formatted_plan(pruned)
    assert "PartitionFilters" in plan
    assert len(hit) < n_buckets, (len(hit), n_buckets)  # real pruning
    assert pruned.count() == keyed.filter(box).count()  # no rows lost


def test_bloom_prune_filters_before_join(spark, qs):
    """The bloom probe must sit on the fact side BEFORE the equi-join
    (that's the whole reduction), as an O(1) dense-array probe."""
    plan = formatted_plan(qs["q_join_bloom_prune"](spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert "element_at(bloom_arr" in plan, plan[:2000]
    assert "BroadcastHashJoin" in tree or "SortMergeJoin" in tree, tree
    # probe is a filter over the streamed fact scan, not a nested loop
    # against per-row bloom reconstruction
    assert tree.count("BroadcastNestedLoopJoin") <= 1, tree


def test_mv_incremental_unions_aggregated_states(spark, qs):
    """Both MV branches aggregate BEFORE the union-merge: the plan
    must show the partial/final HashAggregate pairs per branch plus
    the merge — never a union of raw fact rows."""
    plan = formatted_plan(qs["q_mv_incremental"](spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert "Union" in tree, tree
    assert tree.count("HashAggregate") >= 6, tree  # 2 per state + 2 merge


def test_ewma_join_is_equi_not_nested_loop(spark, qs):
    """The trailing-window self-join carries the event_type equality,
    so it must plan as a hash/merge join with the range as residual —
    never a nested-loop scan."""
    plan = formatted_plan(qs["q_ts_ewma"](spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert "BroadcastNestedLoopJoin" not in tree and "CartesianProduct" not in tree, tree


def test_cum_distinct_no_expand(spark, qs):
    """First-occurrence decomposition means NO count-distinct Expand
    node anywhere — that's what makes it linear."""
    plan = formatted_plan(qs["q_window_cum_distinct"](spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert "Expand" not in tree, tree


def test_countmin_counters_broadcast(spark, qs):
    """The fixed 4x64 counter table must broadcast to the probe join."""
    plan = formatted_plan(qs["q_agg_countmin"](spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree, tree


def test_dpp_injects_runtime_pruning(spark, qs):
    """The partitioned fact scan must carry a dynamicpruning
    expression fed by the dimension join — runtime partition pruning,
    not a full-lake scan."""
    plan = formatted_plan(qs["q_scan_dpp"](spark, SF_SMALL))
    assert "dynamicpruning" in plan.lower(), plan[:3000]


def test_running_agg_queries_have_no_single_partition_exchange(spark, qs):
    """VERDICT r4 task 1 done-criterion: the four former single-reducer
    queries now run through global_running_agg — no data-proportional
    rows may pass a SinglePartition exchange (an unpartitioned ordered
    window would show one)."""
    for key in ("q_olap_abc_pareto", "q_ts_concurrency", "q_stream_watermark"):
        plan = formatted_plan(qs[key](spark, SF_SMALL))
        assert "SinglePartition" not in plan, (key, plan[:1200])


def test_csv_ingest_id_minting_no_single_partition(spark):
    """R1 ingest front door: 0-based id minting uses the two-pass
    sliced rank, never a global unpartitioned row_number."""
    import os

    from spark_clustering_spark.sources.csv_numeric import read_numeric_csv

    fix = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "spark_clustering_spark",
        "fixtures",
        "csv_iris_like.csv",
    )
    df = read_numeric_csv(spark, fix)
    plan = formatted_plan(df)
    assert "SinglePartition" not in plan, plan[:1200]


def test_triangles_all_hash_joins_no_cartesian(spark, qs):
    """Degree-oriented triangle closure must plan as equi hash/merge
    joins — a nested-loop or cartesian wedge join would be quadratic."""
    plan = formatted_plan(qs["q_graph_triangles"](spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert "CartesianProduct" not in tree.replace(
        "BroadcastNestedLoopJoin", ""
    ), tree
    # the one-row summary cross-joins are broadcast; the wedge joins
    # must be hash joins on part keys
    assert "BroadcastHashJoin" in tree or "SortMergeJoin" in tree, tree


def test_key_skew_uses_topk_heap(spark, qs):
    """The skew profiler's top-k must be TakeOrderedAndProject, never a
    global sort of the per-key counts."""
    plan = formatted_plan(qs["q_diag_key_skew"](spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan, plan[:1500]
    assert "SinglePartition" not in plan.split("TakeOrderedAndProject")[0], plan[:1500]


def test_mom_growth_broadcasts_prev_month(spark, qs):
    """The previous-month attach is a broadcast join of the bounded
    month series — no window, no shuffle of the series."""
    plan = formatted_plan(qs["q_olap_mom_growth"](spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree, tree
    assert "Window" not in tree, tree


def test_dq_constraints_single_scan(spark, qs):
    """All five audit metrics ride ONE scan of orders (the distinct
    uniqueness metric re-shuffles, but never re-reads the table)."""
    plan = formatted_plan(qs["q_dq_constraints"](spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1, tree


def test_phash_pairs_no_self_join_on_bands(spark, qs):
    """Banded candidate generation must be the bucket groupBy +
    in-bucket expansion — never a band-table self-join."""
    plan = formatted_plan(qs["q_multimodal_phash_pairs"](spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert "CartesianProduct" not in tree and "BroadcastNestedLoopJoin" not in tree, tree


def test_kmeanspp_cumsum_no_single_partition(spark, qs):
    """The k-means++ D² CDF is data-proportional — it must run through
    global_running_agg, never an unpartitioned window (the 5th
    single-reducer case, closed in round 5)."""
    import inspect

    from spark_clustering_spark.operators import clustering

    src = inspect.getsource(clustering.q_ml_kmeanspp_init)
    assert "global_running_agg" in src


def test_spatial_grid_is_pure_hash_join(spark, qs):
    """The grid radius join must be a plain shuffled equi join on the
    cell key: no cartesian/broadcast-nested-loop node, no wide
    distinct (pairs are generated exactly once by construction)."""
    plan = formatted_plan(qs["q_join_spatial_grid"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" not in plan or "distinct" not in plan.lower()


def test_token_budget_no_single_partition(spark, qs):
    """The global quality-ordered running sum rides
    global_running_agg's slice shuffle — never one reducer."""
    plan = formatted_plan(qs["q_pipeline_token_budget"](spark, SF_SMALL))
    assert "SinglePartition" not in plan, plan[:1200]


def test_zipf_rank_no_single_partition(spark, qs):
    """Vocabulary ranking comes from the two-pass carry-in row number;
    the only single-partition exchange allowed is the 1-row final
    audit aggregate."""
    from spark_clustering_spark.pipeline.textstats import q_text_zipf
    from spark_clustering_spark.operators.windows import global_running_agg
    from spark_clustering_spark.io import table
    from pyspark.sql import functions as F

    d = table(spark, SF_SMALL, "documents")
    toks = d.select(
        F.explode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
        ).alias("tok")
    )
    tc = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    ranked, _ = global_running_agg(
        tc, [F.col("c").desc(), F.col("tok")], {"r": ("count", None)}
    )
    plan = formatted_plan(ranked)
    assert "SinglePartition" not in plan, plan[:1200]


def test_weighted_sample_is_take_ordered(spark, qs):
    """ES top-k must compile to TakeOrderedAndProject (bounded per-task
    heap), not a global Sort."""
    plan = formatted_plan(qs["q_sample_weighted"](spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan, plan[:1500]


def test_editdist_blocked_join_not_cartesian(spark, qs):
    """The length-grid block must make the dictionary join an equi
    hash join, never a cartesian product."""
    plan = formatted_plan(qs["q_dedup_blocked_editdist"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _single_partition_exchanges_carry_only_partials(plan: str):
    """Allow Exchange SinglePartition ONLY when its child is a partial
    HashAggregate (P partial-state rows, the small-state global-agg
    shape) — never under a Sort/Window (data-proportional rows)."""
    import re as _re

    sp_ids = {
        m.group(1)
        for m in _re.finditer(
            r"\((\d+)\) Exchange\n[^(]*?Arguments: SinglePartition", plan
        )
    }
    tree = plan.split("\n\n")[0].split("\n")
    for i, line in enumerate(tree):
        m = _re.search(r"Exchange \((\d+)\)", line)
        if not m or m.group(1) not in sp_ids:
            continue
        child = tree[i + 1] if i + 1 < len(tree) else ""
        assert "HashAggregate" in child, (line, child)


def test_rfm_and_gini_no_single_partition_exchange(spark, qs):
    """Round-5c rank machinery: RFM quintiles chain ntile_scalable and
    Gini ranks via global_running_agg — customer-cardinality rows never
    pass a SinglePartition exchange (only P-row aggregate partials may,
    for Gini's one-row answer)."""
    plan = formatted_plan(qs["q_olap_rfm"](spark, SF_SMALL))
    assert "SinglePartition" not in plan, plan[:1200]
    plan = formatted_plan(qs["q_olap_gini"](spark, SF_SMALL))
    _single_partition_exchanges_carry_only_partials(plan)


def test_welch_and_chisq_single_fact_pass(spark, qs):
    """Sufficient-statistic tests: one partial+final aggregate over
    the fact input, never a window. Welch is a pure two-exchange
    global aggregate; chi-squared pins its r*c cell table (io.pin) so
    every later exchange (marginals, broadcasts, the one-row answer)
    carries <= 25 rows — the fact is read once."""
    df = qs["q_agg_welch_ttest"](spark, SF_SMALL)
    assert "WindowExec" not in formatted_plan(df)
    assert num_shuffles(df) <= 2, num_shuffles(df)
    df = qs["q_agg_chisq"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "WindowExec" not in plan
    # the fact join sits behind the pin: no parquet scan of
    # orders/customer may remain in the downstream plan
    assert "parquet" not in plan.lower(), plan[:800]


def test_naive_bayes_model_broadcasts(spark, qs):
    """The NB model tables (per-lang counts, totals, priors, vocab)
    must come back as broadcast joins — the doc-term table never
    re-shuffles on the model key."""
    plan = formatted_plan(qs["q_ml_naive_bayes"](spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert tree.count("BroadcastHashJoin") + tree.count(
        "BroadcastNestedLoopJoin"
    ) >= 4, tree


def test_linkpred_anti_join_and_no_cartesian(spark, qs):
    """Wedge enumeration must stay equi-join (no cartesian), existing
    edges must drop via a hash anti-join."""
    plan = formatted_plan(qs["q_graph_jaccard_linkpred"](spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert "CartesianProduct" not in tree.replace("BroadcastNestedLoopJoin", ""), tree
    assert "LeftAnti" in plan, plan[:1500]
    assert "TakeOrderedAndProject" in plan, "top-50 must be a heap, not a sort"


def _no_unpartitioned_ordered_window(plan: str) -> bool:
    """True iff no Window/Sort consumes a SinglePartition exchange —
    the data-proportional one-reducer pattern. A SinglePartition feeding
    a final one-row HashAggregate is bounded state and allowed."""
    import re

    for m in re.finditer(r"Exchange SinglePartition", plan):
        tail = plan[m.end() : m.end() + 400]
        # the consumer appears just above in formatted plans; check the
        # preceding operator lines instead
        head = plan[max(0, m.start() - 400) : m.start()]
        if "Window" in head or re.search(r"\bSort\b", head):
            return False
        del tail
    return True


def test_ml_auc_no_data_wide_single_reducer(spark, qs):
    """AUC's global cumulative count must ride global_running_agg's
    literal slice cuts — the only SinglePartition allowed is the final
    one-row aggregate of k partials, never a Sort/Window funnel."""
    plan = formatted_plan(qs["q_ml_auc"](spark, SF_SMALL))
    assert _no_unpartitioned_ordered_window(plan), plan[:1200]


def test_weighted_median_no_data_wide_single_reducer(spark, qs):
    plan = formatted_plan(qs["q_agg_weighted_median"](spark, SF_SMALL))
    assert _no_unpartitioned_ordered_window(plan), plan[:1200]


def test_sample_reservoir_uses_heap_not_global_sort(spark, qs):
    """The k-smallest-hash draw must plan as TakeOrderedAndProject
    (bounded per-partition heaps), not a data-wide global sort."""
    plan = formatted_plan(qs["q_sample_reservoir"](spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan, plan[:800]


def test_purchase_sequence_broadcasts_brand_filter(spark, qs):
    """The 2-brand part slice must reach lineitem as a broadcast hash
    join — shuffling the fact table against a 2-brand dim is waste."""
    plan = formatted_plan(qs["q_olap_purchase_sequence"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan, plan[:800]


def test_interval_merge_windows_are_user_partitioned(spark, qs):
    """Gaps-and-islands must never run an unpartitioned ordered
    window: both the running-max-end and the island cumsum partition
    by user_id."""
    plan = formatted_plan(qs["q_ts_interval_merge"](spark, SF_SMALL))
    assert "SinglePartition" not in plan, plan[:800]


def test_scene_change_framing_has_no_shuffle_before_window(spark, qs):
    """Stub framing multiplies rows inside the Arrow batch; the only
    exchanges allowed are the per-item window/group shuffles (hash on
    item_id), never a SinglePartition funnel."""
    plan = formatted_plan(qs["q_multimodal_scene_change"](spark, SF_SMALL))
    assert "SinglePartition" not in plan, plan[:800]


def test_knn_pair_generation_never_broadcasts_corpus(spark, qs):
    """r6 verdict task 1 (tightened by the r7 GEMM swap): the
    exact-kNN keys must never put a data-derived table inside a
    BroadcastExchange — the old crossJoin(F.broadcast(corpus)) grew
    with the corpus and was the one declared plan guaranteed to die at
    100×. The only permitted broadcasts are the constant-sized Range
    block lists; pair generation rides the blocked cogroup GEMM
    (FlatMapCoGroupsInPandas) whose survivors are exact-decimal
    re-ranked."""
    from spark_clustering_spark.plans.explain import broadcast_subtrees

    for key in ("q_ml_knn_classify", "q_vec_knn_graph"):
        df = qs[key](spark, SF_SMALL)
        for sub in broadcast_subtrees(df):
            assert "FileScan" not in sub and "parquet" not in sub, (
                key,
                sub[:400],
            )
        plan = formatted_plan(df)
        assert "FlatMapCoGroupsInPandas" in plan, (key, plan[:800])


def test_gains_curve_has_no_single_partition_exchange(spark, qs):
    """The decile assignment must ride ntile_scalable's range
    repartition — never a one-reducer ORDER BY over orders."""
    plan = formatted_plan(qs["q_ml_gains_curve"](spark, SF_SMALL))
    assert _no_unpartitioned_ordered_window(plan), plan[:1200]


def test_bpe_merge_uses_heap_topk(spark, qs):
    plan = formatted_plan(qs["q_text_bpe_merge"](spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan, plan[:800]


def test_user_streaks_windows_are_user_partitioned(spark, qs):
    plan = formatted_plan(qs["q_ts_user_streaks"](spark, SF_SMALL))
    assert "SinglePartition" not in plan, plan[:800]


def test_coreset_uses_heap_topk_and_no_data_broadcast(spark, qs):
    """The coreset winners ride a TakeOrderedAndProject bounded heap
    (never a global sort); the only broadcast-shaped state is the
    d-sized mean literal baked into the projection."""
    df = qs["q_sample_coreset"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan[:800]
    from spark_clustering_spark.plans.explain import broadcast_subtrees

    for sub in broadcast_subtrees(df):
        assert "FileScan" not in sub and "parquet" not in sub, sub[:400]


def test_hard_negatives_broadcasts_probe_side(spark, qs):
    """Pair generation must broadcast the bounded probe side (the
    q_sim_topk_cosine shape) — a shuffled join on `pos` would put 1/d
    of the corpus on one reducer."""
    plan = formatted_plan(qs["q_sim_hard_negatives"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan, plan[:800]


def test_dataset_card_digest_narrows_before_expand(spark, qs):
    """The grouping-sets Expand triples the stream, so the per-doc
    projection must replace text with its 16-byte digest FIRST: an
    Expand carrying the text column would triple the full corpus
    bytes through the shuffle at 100 TB."""
    df = qs["q_pipeline_dataset_card"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "Expand" in plan, plan[:800]
    # the Expand node's argument list must never reference the raw
    # text column — only the md5 digest alias survives the projection
    expand = next(
        (
            seg for seg in plan.split("\n(")
            if seg.startswith(tuple("0123456789"))
            and "Expand" in seg.split("\n")[0]
        ),
        None,
    )
    assert expand is not None, plan[:800]
    # direct assertion (ADVICE r8): the raw text column must not appear
    # in the Expand arguments AT ALL — the old 'md5 not in' disjunct was
    # satisfiable by the exact leak it guards against
    assert "text#" not in expand.split("Arguments")[-1], expand[:600]
    assert "partial_count" in plan  # map-side combine under the rollup


def test_label_prop_round_window_partitions_by_node(spark, qs):
    """Per-round argmax windows partition by node (never global) and
    the vote aggregation combines map-side. The declared key pins each
    round, so the contract inspects the exposed round function's
    pre-materialization plan."""
    from pyspark.sql import functions as F

    from spark_clustering_spark.operators.graph import (
        LP_SEED_MOD,
        basket_edges,
        label_prop_round,
    )
    from spark_clustering_spark.io import table

    e = basket_edges(spark, SF_SMALL, cap=5)
    adj = e.select("u", "v").unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    part = table(spark, SF_SMALL, "part").select(
        F.col("p_partkey").alias("node"), F.col("p_brand").alias("label")
    )
    labels = (
        adj.select(F.col("u").alias("node"))
        .distinct()
        .filter(F.col("node") % LP_SEED_MOD == 0)
        .join(part, "node")
    )
    plan = formatted_plan(label_prop_round(adj, labels))
    assert "Window" in plan, plan[:800]
    import re

    specs = re.findall(r"windowspecdefinition\(node#\d+L?,", plan)
    assert specs, plan[:1200]  # every window spec is node-partitioned
    assert "partial_count" in plan  # vote counts combine map-side
