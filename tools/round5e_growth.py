"""Scale-growth measurement for the round-5e data-heavy operators.

Protocol follows tools/scale_growth.py / round5d_growth.py: replicate
the input via a key shift, warm min-of-N wall, run ALONE.

- kNN classify: corpus replicated x{1,4,16} via vec_id shift, probe
  set FIXED at the base subset (the realistic serving shape: queries
  are bounded, the corpus grows) — the broadcast pair pass should be
  linear in the corpus.
- Adamic-Adar: lineitem replicated via orderkey+partkey shift →
  disjoint graph copies, wedge mass linear in the multiple (the
  count-derived shuffle width is the claimed-scalable part).
- interval merge: events replicated via user_id shift → per-user
  window state constant, total linear.
- weighted median: lineitem replicated (values shifted so distinct
  scores also grow) → global_running_agg's range repartition carries
  the growth.

Usage: python tools/round5e_growth.py [--sf DIR] [--multiples 1,4,16]
       [--runs 2]
Prints one markdown row per (query, multiple) plus a JSON line.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))


def _wall(fn, runs: int) -> float:
    best = float("inf")
    for _ in range(runs):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return best


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--multiples", default="1,4,16")
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()
    multiples = [int(m) for m in args.multiples.split(",")]

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from spark_clustering_spark.functions.distance import (
        as_double_array,
        dot_dec,
    )
    from spark_clustering_spark.io import shuffle_width, table
    from spark_clustering_spark.pipeline.similarity import KNN_K, KNN_MOD
    from spark_clustering_spark.session import get_spark

    spark = get_spark("round5e_growth")
    results = []

    emb0 = table(spark, args.sf, "embeddings").select(
        "vec_id", "label", as_double_array("embedding").alias("vec")
    )
    n_emb = emb0.count()
    li0 = table(spark, args.sf, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice", "l_quantity"
    )
    max_ok = li0.agg(F.max("l_orderkey")).collect()[0][0]
    max_pk = li0.agg(F.max("l_partkey")).collect()[0][0]
    n_li = li0.count()
    ev0 = table(spark, args.sf, "events").select("user_id", "event_id", "ts", "value")
    n_ev = ev0.count()

    def rep(df, shifts: dict, m: int):
        parts = []
        for i in range(m):
            p = df
            for col, step in shifts.items():
                p = p.withColumn(col, F.col(col) + F.lit(int(i * step)))
            parts.append(p)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        return out

    print("| query | multiple | rows in | wall |")
    print("|---|---|---|---|")
    for m in multiples:
        # --- kNN classify, fixed probes, growing corpus ---
        corpus_df = rep(emb0, {"vec_id": n_emb}, m)
        base_sub = emb0.filter(F.col("vec_id") % KNN_MOD == 0)

        def knn():
            n = corpus_df.select(
                "vec_id",
                "label",
                "vec",
                F.sqrt(
                    dot_dec(F.col("vec"), F.col("vec")).cast("double")
                ).alias("nrm"),
            )
            sub = base_sub.select(
                F.col("vec_id").alias("src"),
                F.col("label").alias("true_label"),
                F.col("vec").alias("va"),
                F.sqrt(
                    dot_dec(F.col("vec"), F.col("vec")).cast("double")
                ).alias("na"),
            )
            width = shuffle_width(spark)
            corpus = n.select(
                F.col("vec_id").alias("dst"),
                F.col("label").alias("lbl"),
                F.col("vec").alias("vb"),
                F.col("nrm").alias("nb"),
            )
            scored = (
                corpus.repartition(width)
                .crossJoin(F.broadcast(sub))
                .filter(F.col("src") != F.col("dst"))
                .select(
                    "src",
                    "true_label",
                    "lbl",
                    (
                        dot_dec(F.col("va"), F.col("vb")).cast("double")
                        / (F.col("na") * F.col("nb"))
                    ).alias("cos"),
                    "dst",
                )
            )
            w = Window.partitionBy("src").orderBy(
                F.col("cos").desc(), F.col("dst")
            )
            topk = scored.select(
                "src", "true_label", "lbl", F.row_number().over(w).alias("rn")
            ).filter(F.col("rn") <= KNN_K)
            topk.groupBy("true_label", "lbl").count().collect()

        w = _wall(knn, args.runs)
        print(f"| q_ml_knn_classify (fixed probes) | {m}x | {n_emb * m} vecs | {w:.2f} s |")
        results.append({"query": "q_ml_knn_classify", "multiple": m, "wall_s": round(w, 2)})

        # --- Adamic-Adar on disjoint graph copies ---
        li_m = rep(li0, {"l_orderkey": max_ok + 1, "l_partkey": max_pk + 1}, m)

        def aa():
            li = li_m.select(
                F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
            ).distinct()
            small = (
                li.groupBy("o")
                .agg(F.count(F.lit(1)).alias("bsz"))
                .filter(F.col("bsz") <= 5)
            )
            lp = li.join(small.select("o"), "o")
            a = lp.select("o", F.col("p").alias("u"))
            b = lp.select("o", F.col("p").alias("v"))
            e = (
                a.join(b, "o")
                .filter(F.col("u") < F.col("v"))
                .select("u", "v")
                .distinct()
                .localCheckpoint(eager=True)
            )
            adj = e.select(
                F.col("u").alias("node"), F.col("v").alias("nbr")
            ).unionAll(
                e.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
            )
            deg = adj.groupBy("node").agg(
                F.count(F.lit(1)).alias("d"),
                F.round(
                    (1.0 / F.log(F.count(F.lit(1)).cast("double"))).cast(
                        "decimal(38,12)"
                    ),
                    6,
                ).cast("decimal(38,6)").alias("w"),
            )
            n_wedges = (
                deg.agg(
                    F.sum(F.col("d") * (F.col("d") - 1) / 2)
                    .cast("bigint")
                    .alias("w2")
                ).collect()[0]["w2"]
                or 0
            )
            width = shuffle_width(spark, int(n_wedges), 1_000_000)
            wa = adj.select("node", F.col("nbr").alias("u"))
            wb = adj.select("node", F.col("nbr").alias("v"))
            wedge = (
                wa.join(wb, "node")
                .filter(F.col("u") < F.col("v"))
                .join(F.broadcast(deg.select("node", "w")), "node")
                .repartition(width, "u", "v")
                .groupBy("u", "v")
                .agg(F.count(F.lit(1)).alias("common"), F.sum("w").alias("aa"))
            )
            wedge.join(e, ["u", "v"], "left_anti").filter(
                F.col("common") >= 2
            ).groupBy().count().collect()

        w = _wall(aa, args.runs)
        print(f"| q_graph_adamic_adar | {m}x | {n_li * m} lineitems | {w:.2f} s |")
        results.append({"query": "q_graph_adamic_adar", "multiple": m, "wall_s": round(w, 2)})

        # --- interval merge ---
        ev_m = rep(ev0, {"user_id": 1_000_000, "event_id": n_ev}, m)

        def ivl():
            e = ev_m.select(
                "user_id",
                "event_id",
                F.unix_micros(F.col("ts")).alias("s"),
                (
                    F.unix_micros(F.col("ts"))
                    + F.floor(F.col("value") * 60000000.0).cast("bigint")
                ).alias("e"),
            )
            w0 = Window.partitionBy("user_id").orderBy("s", "e", "event_id")
            prev_max = F.max("e").over(
                w0.rowsBetween(Window.unboundedPreceding, -1)
            )
            flagged = e.select(
                "user_id",
                "s",
                "e",
                F.when(prev_max.isNull() | (F.col("s") > prev_max), 1)
                .otherwise(0)
                .alias("is_new"),
                "event_id",
            )
            isl = flagged.select(
                "user_id",
                "s",
                "e",
                F.sum("is_new")
                .over(
                    w0.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                )
                .alias("island"),
            )
            isl.groupBy("user_id", "island").agg(
                F.count(F.lit(1)).alias("n"),
                F.min("s").alias("a"),
                F.max("e").alias("b"),
            ).groupBy("user_id").agg(F.count(F.lit(1))).groupBy().count().collect()

        w = _wall(ivl, args.runs)
        print(f"| q_ts_interval_merge | {m}x | {n_ev * m} events | {w:.2f} s |")
        results.append({"query": "q_ts_interval_merge", "multiple": m, "wall_s": round(w, 2)})

        # --- weighted median via global_running_agg ---
        li_w = rep(li0, {"l_extendedprice": 1_000_000}, m)

        def wmed():
            from spark_clustering_spark.operators.windows import (
                global_running_agg,
            )

            g = li_w.groupBy(F.col("l_extendedprice").alias("v")).agg(
                F.sum(F.col("l_quantity").cast("bigint")).alias("w")
            )
            r, totals = global_running_agg(
                g, [F.col("v")], {"cum": ("sum", F.col("w"))}
            )
            tot = int(totals["cum"])
            r.filter(2 * F.col("cum") >= F.lit(tot)).agg(
                F.min("v")
            ).collect()

        w = _wall(wmed, args.runs)
        print(f"| q_agg_weighted_median | {m}x | {n_li * m} lineitems | {w:.2f} s |")
        results.append({"query": "q_agg_weighted_median", "multiple": m, "wall_s": round(w, 2)})

    print(json.dumps({"sf": args.sf, "runs": args.runs, "results": results}))


if __name__ == "__main__":
    main()
