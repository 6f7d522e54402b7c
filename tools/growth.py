"""Unified growth harness (VERDICT r5 task 6).

Measures REAL data growth: each selected declared query runs at two
scale factors (default sf0.01 -> sf0.1, 10x rows) and the wall-clock
ratio is checked against a per-query linearity budget. tests/test_growth.py runs this as a (slow-marked)
pytest so the next quadratic surprise — the r5 triangle-width bug was
caught only because someone happened to run a script — fails CI
instead.

Budgets are wall ratios on 10x rows: 15x default (>~12x flags
superlinearity per the r5 verdict; slack for fixed overheads and host
noise), with explicit overrides for queries whose OUTPUT is
superlinear by design.

Usage: python tools/growth.py [--small DIR] [--big DIR] [--runs 2]
       [names...]
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))

# Heaviest Spark-side declared queries by BENCH_DETAIL (fits and
# streaming-harness keys excluded: their wall is iteration/harness
# dominated, not data-plane dominated).
DEFAULT_QUERIES = [
    "q_graph_adamic_adar",
    "q_graph_triangles",
    "q_sim_ivfpq_topk",
    "q_graph_jaccard_linkpred",
    "q_dedup_semantic",
    "q_ml_als_step",
    "q_graph_clustering_coeff",
    "q_dedup_lsh_tuning",
    "q_sim_topk_ivf",
    "q_sample_cluster_balanced",
    # r6 verdict task 1: the two ex-broadcast keys, now blocked-shuffle
    # pair generation — gated so a broadcast (or width) regression that
    # reserializes the n_sub×n pair volume fails CI
    "q_ml_knn_classify",
    "q_vec_knn_graph",
    # r7 verdict task 8: the density-bound join family — budgets derive
    # from the measured pair volume, like the wedge family
    "q_join_theta_range",
    "q_join_range_bucketed",
]

# wall-ratio budget on 10x rows (default 15.0)
BUDGETS = {}

# The graph wedge family's work is Σd(d-1)/2, not rows — superlinear
# wall growth is EXPECTED there, so a fixed wall budget either blocks
# legitimate wedge growth or (set loose) hides a real skew regression
# inside "expected superlinear" (VERDICT r6 task 6). Budget instead =
# measured wedge-count growth × slack: the wedge ratio is the work the
# data demands; the slack covers fixed overheads and host noise. Value
# = cap of the basket-edge build each key uses (None = full graph).
WEDGE_FAMILY = {
    "q_graph_triangles": None,
    "q_graph_adamic_adar": 5,
    "q_graph_clustering_coeff": 5,
    "q_graph_jaccard_linkpred": 5,
}
WEDGE_SLACK = 2.5
WEDGE_FLOOR = 4.0  # fixed overheads dominate when wedge growth is small


def wedge_count(sf_dir: str, cap: int | None) -> int:
    """Σ d(d-1)/2 over the basket co-purchase graph — the wedge volume
    that drives every triangle/common-neighbour enumeration. Computed
    in DuckDB (cheap: one distinct + one self-join + one group-by) so
    the growth gate can scale its budget to the data's actual demand."""
    import duckdb

    capped = (
        f"""lp AS (
          SELECT lp0.o, lp0.p FROM lp0
          JOIN (SELECT o FROM lp0 GROUP BY o HAVING count(*) <= {cap}) s
          USING (o))"""
        if cap is not None
        else "lp AS (SELECT * FROM lp0)"
    )
    return int(
        duckdb.sql(
            f"""WITH lp0 AS (
              SELECT DISTINCT l_orderkey AS o, l_partkey AS p
              FROM read_parquet('{sf_dir}/lineitem.parquet')),
            {capped},
            e AS (
              SELECT DISTINCT a.p AS u, b.p AS v
              FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p),
            deg AS (
              SELECT node, count(*) AS d FROM (
                SELECT u AS node FROM e UNION ALL SELECT v FROM e)
              GROUP BY node)
            SELECT COALESCE(sum(d * (d - 1) // 2), 0) FROM deg"""
        ).fetchone()[0]
    )


def theta_pair_count(sf_dir: str) -> int:
    """Output volume of q_join_theta_range: Σ over brands of the
    ordered (size_a < size_b) pair count — pure combinatorics over the
    (brand, size) histogram, so DuckDB computes it from ~brand·size
    group rows regardless of part cardinality. The key's wall IS this
    output volume (the join itself is a hash equi-join on brand), so
    the budget must scale with it (VERDICT r7 task 8)."""
    import duckdb

    return int(
        duckdb.sql(
            f"""WITH h AS (
              SELECT p_brand AS b, p_size AS s, count(*) AS n
              FROM read_parquet('{sf_dir}/part.parquet')
              GROUP BY 1, 2)
            SELECT COALESCE(sum(a.n * c.n), 0)
            FROM h a JOIN h c ON a.b = c.b AND a.s < c.s"""
        ).fetchone()[0]
    )


def band_pair_count(sf_dir: str) -> int:
    """Join work of q_join_range_bucketed: the number of
    (part, distinct-unit-price) pairs inside the ±2.0 band — exactly
    the rows the bucketed plan's residual filter passes (the fact side
    is pre-aggregated to distinct units before the fanout join, so
    distinct-unit pairs, not lineitem pairs, are what the engine
    touches). Band density, not row count, drives the wall."""
    import duckdb

    return int(
        duckdb.sql(
            f"""WITH u AS (
              SELECT DISTINCT l_extendedprice / l_quantity AS unit
              FROM read_parquet('{sf_dir}/lineitem.parquet'))
            SELECT count(*)
            FROM read_parquet('{sf_dir}/part.parquet') p JOIN u
              ON u.unit > p.p_retailprice - 2.0
             AND u.unit < p.p_retailprice + 2.0"""
        ).fetchone()[0]
    )


# Keys whose work is the measured PAIR volume (output rows for the
# theta join, band-density join rows for the bucketed range join) —
# same treatment as WEDGE_FAMILY: budget = measured pair-count growth
# × slack, floored where fixed overheads dominate.
PAIR_FAMILY = {
    "q_join_theta_range": theta_pair_count,
    "q_join_range_bucketed": band_pair_count,
}
PAIR_SLACK = 2.5
PAIR_FLOOR = 4.0


def measure(spark, fn, sf_dir: str, runs: int) -> float:
    best = float("inf")
    for _ in range(runs):
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.time() - t0)
    return best


def run_growth(
    names=None, small="/root/testdata/sf0.01", big="/root/testdata/sf0.1",
    runs: int = 2,
):
    import __spark_entry__ as entrymod
    from spark_clustering_spark.session import get_spark

    spark = get_spark("growth")
    qs = entrymod.queries()
    names = names or DEFAULT_QUERIES
    rows = []
    wedge_ratios: dict[int | None, float] = {}
    for name in names:
        fn = qs[name]
        t_small = measure(spark, fn, small, runs)
        t_big = measure(spark, fn, big, runs)
        ratio = t_big / max(t_small, 1e-3)
        row = {
            "query": name,
            "t_small": round(t_small, 2),
            "t_big": round(t_big, 2),
            "ratio": round(ratio, 2),
        }
        if name in WEDGE_FAMILY:
            cap = WEDGE_FAMILY[name]
            if cap not in wedge_ratios:
                wedge_ratios[cap] = wedge_count(big, cap) / max(
                    wedge_count(small, cap), 1
                )
            row["wedge_ratio"] = round(wedge_ratios[cap], 2)
            budget = max(WEDGE_FLOOR, wedge_ratios[cap] * WEDGE_SLACK)
        elif name in PAIR_FAMILY:
            counter = PAIR_FAMILY[name]
            pair_ratio = counter(big) / max(counter(small), 1)
            row["pair_ratio"] = round(pair_ratio, 2)
            budget = max(PAIR_FLOOR, pair_ratio * PAIR_SLACK)
        else:
            budget = BUDGETS.get(name, 15.0)
        row["budget"] = round(budget, 2)
        row["ok"] = ratio <= budget
        rows.append(row)
        print(
            f"{name}: {t_small:.2f}s -> {t_big:.2f}s  ratio {ratio:.1f}x "
            f"(budget {budget}x) {'OK' if ratio <= budget else 'OVER'}"
        )
    return rows


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--small", default="/root/testdata/sf0.01")
    ap.add_argument("--big", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    rows = run_growth(args.names or None, args.small, args.big, args.runs)
    print(json.dumps({"growth": rows}))
    sys.exit(0 if all(r["ok"] for r in rows) else 1)


if __name__ == "__main__":
    main()
