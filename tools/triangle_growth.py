"""Triangle-counting scale growth: wall time vs edge-set multiple.

Replicates the co-purchase edge set with disjoint id shifts (each
replica is an isolated copy of the graph — triangle count scales
exactly linearly, so any superlinear wall growth is plan waste, not
workload growth). Measures the orientation + wedge-closure pipeline
exactly as q_graph_triangles runs it.

Usage: python tools/triangle_growth.py [--sf DIR] [--multiples 1,4,16]
Protocol: warm min-of-2 via the no-op sink; run ALONE.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from functools import reduce
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--multiples", default="1,4,16")
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window  # noqa: F401

    from spark_clustering_spark.io import shuffle_width, table
    from spark_clustering_spark.session import get_spark

    spark = get_spark("triangle_growth")
    li = (
        table(spark, args.sf, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a = li.select("o", F.col("p").alias("u"))
    b = li.select("o", F.col("p").alias("v"))
    e0 = (
        a.join(b, "o")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
        .localCheckpoint(eager=True)
    )
    m = e0.count()
    shift = int(
        e0.agg(F.max(F.greatest("u", "v"))).first()[0] or 0
    ) + 1

    def replicated(times: int) -> DataFrame:
        parts = [
            e0.select(
                (F.col("u") + i * shift).alias("u"),
                (F.col("v") + i * shift).alias("v"),
            )
            for i in range(times)
        ]
        return reduce(DataFrame.unionByName, parts)

    def triangles(e: DataFrame) -> DataFrame:
        deg = (
            e.select(F.col("u").alias("node"))
            .unionAll(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
        dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
        fwd = (F.col("du") < F.col("dv")) | (
            (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
        )
        o = e.join(du, "u").join(dv, "v").select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
        n_edges = e.count()
        width = shuffle_width(spark, n_edges, 75_000)  # as the operator
        o1 = o.select(F.col("s").alias("x"), F.col("t").alias("y")).repartition(
            width, "y"
        )
        o2 = o.select(F.col("s").alias("y"), F.col("t").alias("z")).repartition(
            width, "y"
        )
        o3 = o.select(F.col("s").alias("x"), F.col("t").alias("z")).repartition(
            width, "x", "z"
        )
        w = o1.join(o2, "y").repartition(width, "x", "z")
        return w.join(o3, ["x", "z"]).agg(
            F.count(F.lit(1)).alias("n_triangles")
        )

    multiples = [int(x) for x in args.multiples.split(",")]
    results: dict[int, dict[str, float]] = {}
    print(f"sf={args.sf} base_edges={m} runs={args.runs} (min)\n")
    print("| corpus | n_triangles | wall s | growth |")
    print("|---|---|---|---|")
    for mult in multiples:
        rep = replicated(mult).localCheckpoint(eager=True)
        best, tri = -1.0, -1
        for _ in range(args.runs):
            t0 = time.monotonic()
            tri = triangles(rep).first()["n_triangles"]
            dt = time.monotonic() - t0
            best = dt if best < 0 else min(best, dt)
        base = results.get(multiples[0], {}).get("wall", best)
        results[mult] = {"wall": round(best, 3), "tri": tri}
        print(
            f"| {mult}x ({mult * m} edges) | {tri} | {best:.2f} "
            f"| {best / base:.2f}x |"
        )
        rep.unpersist()
    print()
    print(json.dumps({"sf": args.sf, "base_edges": m, "results": results}))


if __name__ == "__main__":
    main()
