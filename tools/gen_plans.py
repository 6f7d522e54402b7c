"""Generate PLANS.md — annotated physical plans for the headline
queries, as reviewable evidence of the scale contract.

Run: python tools/gen_plans.py
"""

from __future__ import annotations

import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))

SF = "/root/testdata/sf0.001"

NOTES = {
    "q_agg_hash": (
        "partial/final HashAggregate pair (map-side combine); the filter "
        "reaches the scan as PushedFilters; ReadSchema holds only the 7 "
        "consumed columns."
    ),
    "q_join_broadcast": (
        "part is BroadcastExchange'd — the lineitem side never shuffles."
    ),
    "q_filter_range": (
        "both predicates (timestamp range + quantity) pushed to the "
        "parquet scan."
    ),
    "q_topk_global": (
        "TakeOrderedAndProject: per-partition top-k heaps, no global sort."
    ),
    "q_window_running_global": (
        "global cumulative sum with NO single-reducer window: literal "
        "slice cuts on the order key, per-slice running sum under a "
        "per-slice window, exact decimal carry-in offsets as literals "
        "(global_running_agg — also serves q_olap_abc_pareto, "
        "q_ts_concurrency, q_stream_watermark, and CSV id minting)."
    ),
    "q_graph_triangles": (
        "degree-ordered orientation then two equi hash joins close the "
        "wedges; degree table broadcasts; no nested-loop/cartesian node "
        "anywhere — out-degree under orientation is O(sqrt(m)), so no "
        "task ever holds a hub's full neighborhood."
    ),
    "q_diag_key_skew": (
        "per-key partial+final count, 1-row stats broadcast back, "
        "TakeOrderedAndProject heap for the heavy-hitter top-k — the "
        "profile costs one scan + one small shuffle."
    ),
    "q_dq_constraints": (
        "ONE Scan parquet node feeds every audit metric (count/"
        "completeness/domain/range share the aggregate; the uniqueness "
        "distinct adds its two-phase shuffle but never a second read)."
    ),
    "q_window_ntile_scalable": (
        "exact global ntile with NO single-partition Exchange: range "
        "repartition into sorted slices, per-slice window, slice offsets "
        "from a tiny count job."
    ),
    "q_sim_topk_cosine": (
        "the probe side (N_PROBES·d rows) is BroadcastExchange'd, so the "
        "n·d candidate side streams through the pos-join without a "
        "shuffle keyed on the d-valued pos column."
    ),
    "q_dedup_embedding": (
        "blocked all-pairs GEMM: FlatMapCoGroupsInPandas over "
        "B·(B+1)/2 block pairs — no driver collect, no full-table "
        "broadcast; per-task memory is two n/B-row blocks."
    ),
    "q_join_range_bucketed": (
        "keyless range predicate run as a hash equi-join on "
        "floor(price/δ) buckets with the exact |a−b|<δ residual — no "
        "BroadcastNestedLoop/cartesian; pair blowup is density-bound "
        "per bucket."
    ),
    "q_olap_priority_check": (
        "correlated EXISTS whose predicate spans both sides "
        "decorrelates to ONE left-semi join on orderkey with the date "
        "comparison as join residual — no per-row subplan."
    ),
    "q_olap_waiting_supplier": (
        "correlated EXISTS + NOT EXISTS against the same fact table "
        "become a left-semi and a left-anti self-join, both keyed on "
        "orderkey."
    ),
    "q_decontaminate_bloom": (
        "the 128 KB bloom bitset is a 1-row broadcast; the training "
        "side's might-contain probe is a codegen Filter — no shuffle "
        "and no join until the surviving sliver hits the exact verify "
        "join."
    ),
    "q_dedup_url": (
        "URL synthesis + canonicalization are narrow string "
        "expressions; the single Exchange is the hash-aggregate on the "
        "canonical key (map-side combine), carrying (url, doc_id) only."
    ),
    "q_sample_mixture": (
        "mixture resampling as a stateless per-row hash-threshold "
        "filter: zero Exchange nodes — the only sampling shape with no "
        "per-source sort or count pass."
    ),
    "q_text_tfidf": (
        "document frequencies are an aggregate of the tf aggregate "
        "(vocabulary-sized) and return as a BroadcastHashJoin on tok; "
        "corpus size N is a broadcast 1-row cross join — the corpus-"
        "sized tf relation never re-shuffles after its one (doc_id, tok) "
        "exchange."
    ),
    "q_ts_funnel": (
        "all three funnel stages key their groupBy/join on user_id — "
        "AQE reuses one hash partitioning across the chain; per-user "
        "state is one timestamp per stage and the output is a single "
        "row of counts."
    ),
    "q_cdc_snapshot_diff": (
        "snapshot diff as ONE co-partitioned SortMergeJoin on the "
        "primary key; the unchanged-row filter cuts the change feed "
        "before anything downstream."
    ),
    "q_dedup_minhash": (
        "spread() splits the compacted scan before the shingle explode "
        "(amplification-aware parallelism); signatures shuffle as "
        "16×8 B rows/doc; candidate pairs come from ONE (band, key) "
        "bucket aggregate with in-bucket combinations — no self-join, "
        "no second pass over the signature pipeline."
    ),
    "q_olap_market_share": (
        "7-table Q8 shape: every dimension (nation×2, region, supplier, "
        "part) is a BroadcastHashJoin; only the "
        "lineitem⋈orders⋈customer fact chain exchanges."
    ),
    "q_olap_important_parts": (
        "uncorrelated scalar subquery (global total) is a 1-row "
        "Subquery broadcast reused by the HAVING filter — the fact "
        "table aggregates once; threshold compares exact decimals."
    ),
    "q_text_bigrams": (
        "two-level aggregate — (bigram, doc_id) partial/final then "
        "(bigram) — instead of count-distinct's Expand (which would "
        "double the exploded rows pre-shuffle); top-50 is "
        "TakeOrderedAndProject, not a global sort."
    ),
    "q_join_bloom_prune": (
        "the O(1) dense-array bloom probe filters the fact side BEFORE "
        "the equi-join — shuffle volume drops to selectivity + "
        "false-positive rate; the 128 KB bitset broadcasts."
    ),
    "q_mv_incremental": (
        "both branches aggregate to mergeable decimal states before the "
        "Union; the merge groupBy touches state rows only — refresh "
        "cost is O(delta) + O(groups), never O(base facts)."
    ),
    "q_window_cum_distinct": (
        "first-occurrence decomposition: two plain aggregates + a "
        "window over the (type, day) frame — no count-distinct Expand, "
        "no user-cardinality window."
    ),
    "q_graph_pagerank": (
        "the Q7-shaped edge build runs once (eager checkpoint); each "
        "unrolled Pregel step shuffles only edge-cardinality "
        "contributions against broadcast rank/out-weight tables."
    ),
    "q_olap_rfm": (
        "three chained ntile_scalable passes (literal slice cuts + "
        "per-slice rank offsets) — global quintiles with no "
        "partition-less window anywhere in the plan."
    ),
    "q_graph_jaccard_linkpred": (
        "per-center wedge enumeration as hash equi-joins; shuffle width "
        "derived from the measured wedge count; existing edges removed "
        "by a hash LeftAnti join; final top-50 is TakeOrderedAndProject."
    ),
    "q_vec_knn_graph": (
        "top-k generation via knn_topk_gemm_exact (r7 GEMM swap): two "
        "blocked cogroup passes (FlatMapCoGroupsInPandas) over an "
        "xxhash64 block grid DERIVED FROM THE TABLE COUNTS against a "
        "fixed per-task tile budget — float-GEMM per-block top-k, "
        "global float k-th off the bounded union, margin-filtered "
        "survivors exact-decimal re-ranked (bit-identical, "
        "tests/test_gemm_exact.py). Only BroadcastExchanges are the "
        "constant Range block lists; survivor/vector re-joins are "
        "merge-hinted; mutual filter is an equi self-join."
    ),
    "q_ml_naive_bayes": (
        "model tables (per-lang counts/totals/priors/vocab) broadcast "
        "back onto the doc-term table; per-doc argmax is a |langs|-row "
        "window per doc — nothing data-proportional crosses the driver."
    ),
    "q_dedup_semantic": (
        "assignment is a literal-centroid projection (no crossJoin, no "
        "16n-row window shuffle); the pair scan is one BLAS GEMM per "
        "cluster via applyInPandas — 63x the expression path at 16x "
        "corpus (PERF.md)."
    ),
    "q_ml_als_step": (
        "item factors materialize map-side from the fact row (LCG of "
        "the part key — no dimension join); one co-partitioned fact "
        "join then a single custkey hash aggregate carrying 5-double "
        "state; the 2x2 ridge solve is fixed-order projection "
        "arithmetic."
    ),
    "q_agg_quantiles_scalable": (
        "literal cuts bucket rows into sorted slices + per-slice row_number "
        "with driver carry-in offsets (global_running_agg) — exact "
        "global ranks, SinglePartition-free (plan-asserted); the 3 "
        "target rows filter out of the ranked stream."
    ),
    "q_ts_resample_ohlc": (
        "one ObjectHashAggregate pass: open/close are MIN_BY/MAX_BY "
        "champions on the (ts, event_id) struct riding beside "
        "min/max/decimal-sum — bars shuffle, ticks never do."
    ),
    "q_text_dedup_paragraph": (
        "segment digests (never text) shuffle into a map-side-combined "
        "min(struct) champion groupBy; winners join back on the digest; "
        "the manifest re-aggregates per doc — three narrow exchanges."
    ),
    "q_ml_auc": (
        "rank-sum AUC: scores collapse in a partial/final HashAggregate "
        "pair, the cumulative count rides global_running_agg's literal "
        "slice cuts (no SinglePartition Sort anywhere), and the only "
        "one-partition exchange feeds the final one-row aggregate of "
        "k partials — bounded state, not data."
    ),
    "q_agg_weighted_median": (
        "weighted median as an order statistic over "
        "global_running_agg: distinct values groupBy first (map-side "
        "combine), literal cuts into sorted slices, per-slice window, "
        "then a one-row min — the exact grand total rides back with the "
        "per-slice partials instead of a second data-wide pass."
    ),
    "q_sample_reservoir": (
        "deterministic reservoir = k smallest portable hashes: planned "
        "as TakeOrderedAndProject — each partition keeps a bounded "
        "k-heap, the driver merges P·k candidates, no global sort ever "
        "materializes."
    ),
    "q_graph_adamic_adar": (
        "per-center wedge enumeration with the 6dp-quantized 1/ln(deg) "
        "weight broadcast on the degree table; wedge rows repartition "
        "on the count-derived width; existing edges drop via a shuffled "
        "anti-join; top-50 is TakeOrderedAndProject."
    ),
    "q_ts_interval_merge": (
        "gaps-and-islands: both ordered windows PARTITION BY user_id "
        "(per-key sorted state, no SinglePartition), and the island "
        "merge + per-user rollup reuse the same user hash partitioning."
    ),
    "q_multimodal_scene_change": (
        "stub framing multiplies rows inside the Arrow batch "
        "(mapInPandas, no shuffle); the temporal lag window and the cut "
        "rollup both hash-partition by item_id."
    ),
    "q_ml_knn_classify": (
        "pair generation via knn_topk_gemm_exact: blocked cogroup "
        "GEMM prefilter (FlatMapCoGroupsInPandas over the count-"
        "derived xxhash64 block grid, bounded per-task tile) + "
        "exact-decimal re-rank of the margin survivors — no corpus "
        "broadcast (the only BroadcastExchanges are constant Range "
        "block lists); per-src top-k windows partition by probe; the "
        "vote and accuracy aggregates reduce to |labels| rows "
        "map-side."
    ),
    "q_pipeline_dataset_card": (
        "the per-doc Project replaces text with its md5 digest BEFORE "
        "the x3 grouping-sets Expand, so the shuffle carries (lang, "
        "source, 16-byte digest, 2 ints) — never text; exact distinct "
        "per rollup level via two-phase (group, digest) HashAggregate "
        "with map-side partials."
    ),
    "q_graph_label_prop": (
        "declared output is the bounded per-round census over eagerly "
        "checkpointed rounds; the per-round machinery (contracted via "
        "label_prop_round in test_plans.py) runs ONE adjacency-sized "
        "shuffle join against node-sized label state, map-side partial "
        "vote counts, and a node-partitioned argmax window — never a "
        "global window, never a baked-in data broadcast."
    ),
}


def main() -> None:
    import __spark_entry__ as entrymod
    from spark_clustering_spark.plans.explain import formatted_plan
    from spark_clustering_spark.session import get_spark

    spark = get_spark("plans")
    qs = entrymod.queries()

    lines = [
        "# PLANS — physical plans of headline queries (auto-generated)",
        "",
        "Evidence for the scale contract asserted in tests/test_plans.py.",
        "Regenerate: `python tools/gen_plans.py`.",
        "",
    ]
    for name, note in NOTES.items():
        plan = formatted_plan(qs[name](spark, SF))
        # keep the tree section (before the numbered node details)
        tree = plan.split("\n\n")[0]
        lines += [f"## {name}", "", note, "", "```", tree, "```", ""]

    # bucketed join (needs the bucketed tables + a sort-merge hint, so
    # the small side is not broadcast past the bucketed scan)
    from pyspark.sql import functions as F

    from spark_clustering_spark.sources.bucketed import (
        bucketed_table_names,
        create_bucketed_tables,
    )

    create_bucketed_tables(spark, SF)
    names = bucketed_table_names(SF)
    j = spark.table(names["orders"]).hint("merge").join(
        spark.table(names["lineitem"]),
        F.col("o_orderkey") == F.col("l_orderkey"),
    )
    tree = formatted_plan(j).split("\n\n")[0]
    lines += [
        "## bucketed orders ⋈ lineitem",
        "",
        "Both sides bucketed+sorted by the key at write time: SortMergeJoin "
        "with ZERO Exchange nodes — each bucket pair joins locally.",
        "",
        "```",
        tree,
        "```",
        "",
    ]

    out = _REPO / "PLANS.md"
    out.write_text("\n".join(lines))
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
