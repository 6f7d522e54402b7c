"""DF-native Lloyd's k-means (reference kmeans.java, R4-R9/R19-R21).

Spark-first inversion of the reference design: the reference broadcasts
the whole dataset and parallelizes over point *indices*
(kmeans.java:94,181-184); here the data stays a partitioned DataFrame
and only the k×d centroid matrix crosses the driver boundary per
iteration (collected as ≤ KBs, re-broadcast as literals — which also
truncates lineage for free, no checkpoint needed).

Semantics ledger (SURVEY.md §2C):
- Q4: the reported objective is the sum of UNSQUARED L2 distances
  (reference sqrt-then-sum, kmeans.java:259,186-191). The squared sum
  is tracked too (true Lloyd objective — monotone under mean updates).
- Q7: the per-iteration objective is measured against the centroids
  *before* that iteration's update (reference computes distances
  pre-update) — metrics lag one update, reproduced here.
- Q1: empty-cluster reseed implemented *correctly* (the reference's
  branch is dead code): clusters absent from the update are reseeded
  with deterministic fresh points via an anti-join-derived pick.
- Q5: all randomness is the shared LCG stream (functions/rng.py),
  keyed by (seed, run) — bitwise-reproducible.
- R21: num_run independent restarts share a best-objective tracker.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_clustering_spark.functions.rng import lcg_uniform
from spark_clustering_spark.ml.kernels import lloyd_iteration_multi
from spark_clustering_spark.operators.clustering import assign

METRICS_SCHEMA = (
    "run INT, iter INT, objective DOUBLE, objective_sq DOUBLE, "
    "best_objectvalue DOUBLE, n_empty INT, iter_ms BIGINT"
)


@dataclass
class KMeansResult:
    centroids: list[tuple[int, list[float]]]  # (cluster_id, center)
    metrics: DataFrame                        # METRICS_SCHEMA (R20 sink shape)
    best_objective: float
    assignments: DataFrame                    # (vec_id, cluster_id, dist) of best run
    history: list[dict] = field(default_factory=list)


def _init_centroids(points: DataFrame, k: int, seed: int, run: int) -> list[list]:
    """Seeded init (R9): the k points with the lowest LCG draw keyed by
    vec_id — deterministic sampling without a full sort at scale
    (TakeOrdered top-k heap). run=0 with seed=42 reduces to a plain
    keyed draw; FIXTURES.md's 'k lowest vec_id' init is seed=None."""
    if seed is None:
        picked = points.orderBy("vec_id").limit(k)
    else:
        picked = (
            points.withColumn("u", lcg_uniform("vec_id", seed + 1000 * run))
            .orderBy("u", "vec_id")
            .limit(k)
        )
    return [[r["vec_id"], r["vec"]] for r in picked.collect()]


def _centroids_df(spark: SparkSession, centers: list[list]) -> DataFrame:
    rows = [(int(i), [float(v) for v in vec]) for i, (_, vec) in enumerate(centers)]
    return spark.createDataFrame(rows, "cid INT, cvec ARRAY<DOUBLE>")


def fit_kmeans(
    spark: SparkSession,
    points: DataFrame,
    k: int = 8,
    num_iter: int = 10,
    num_run: int = 1,
    seed: int | None = 42,
    tol: float = 0.0,
) -> KMeansResult:
    """Full Lloyd loop. ``points``: (vec_id bigint, vec array<double>)."""
    import time

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if num_iter < 1:
        raise ValueError(f"num_iter must be >= 1, got {num_iter}")
    if num_run < 1:
        raise ValueError(f"num_run must be >= 1, got {num_run}")

    points = points.persist()
    try:
        points.count()  # materialize once; every iteration reuses the cache

        import numpy as np

        # ---- lockstep multi-restart (R21): every iteration evaluates ALL
        # still-active runs in ONE kernel pass (ml/kernels.py
        # lloyd_iteration_multi) — per-run math is independent, so results
        # are identical to sequential restarts with 1/num_run of the jobs.
        run_centers: dict[int, list] = {
            run: [
                [i, vec]
                for i, (_, vec) in enumerate(_init_centroids(points, k, seed, run))
            ]
            for run in range(num_run)
        }
        active = set(run_centers)
        prev_objs: dict[int, float] = {}
        # per-(run, iter): objective, squared objective, empties, ms,
        # pre-update centers — best-tracking is post-processed in the
        # sequential (run-major) order the reference uses
        cell: dict[tuple[int, int], dict] = {}

        for it in range(num_iter):
            if not active:
                break
            t0 = time.time()
            stacks = {
                run: np.array([vec for _, vec in run_centers[run]], dtype=np.float64)
                for run in sorted(active)
            }
            stats_by_run = lloyd_iteration_multi(points, stacks)
            iter_ms = int((time.time() - t0) * 1000)
            all_empty: dict[int, list[int]] = {}
            for run in sorted(active):
                got = {s["cluster_id"]: s for s in stats_by_run[run]}
                all_empty[run] = [
                    cid for cid, _ in enumerate(run_centers[run]) if cid not in got
                ]
            # Q1: correct empty-cluster reseed — absent cids get fresh
            # deterministic points (one small draw shared per iteration)
            n_needed = max((len(v) for v in all_empty.values()), default=0)
            fresh_rows = (
                points.withColumn("u", lcg_uniform("vec_id", (seed or 0) + 7000 + it))
                .orderBy("u", "vec_id")
                .limit(n_needed)
                .collect()
                if n_needed
                else []
            )
            for run in sorted(active):
                got = {s["cluster_id"]: s for s in stats_by_run[run]}
                centers = run_centers[run]
                obj = float(sum(s["sum_dist"] for s in stats_by_run[run]))  # Q4/Q7
                obj_sq = float(sum(s["sum_sq"] for s in stats_by_run[run]))
                reseed = {
                    cid: list(r["vec"])
                    for cid, r in zip(all_empty[run], fresh_rows)
                }
                new_centers = []
                for cid, old_vec in centers:
                    if cid in got:
                        new_centers.append([cid, list(got[cid]["mean"])])
                    elif cid in reseed:
                        new_centers.append([cid, reseed[cid]])
                    else:  # Q9 guard: keep stale centroid rather than NaN
                        new_centers.append([cid, old_vec])
                cell[(run, it)] = {
                    "objective": obj,
                    "objective_sq": obj_sq,
                    "n_empty": len(all_empty[run]),
                    "iter_ms": iter_ms,
                    "pre_centers": [list(c) for c in centers],
                }
                run_centers[run] = new_centers
                prev = prev_objs.get(run)
                if prev is not None and tol > 0 and abs(prev - obj) < tol:
                    active.discard(run)
                prev_objs[run] = obj

        # ---- best tracking (R7/R21) in the reference's run-major order
        best_obj = float("inf")
        best_centers: list | None = None
        metrics_rows: list[tuple] = []
        history: list[dict] = []
        for run in range(num_run):
            for it in range(num_iter):
                c = cell.get((run, it))
                if c is None:
                    continue
                if c["objective"] < best_obj:
                    # Q7: obj was measured against the PRE-update centers
                    best_obj, best_centers = c["objective"], c["pre_centers"]
                metrics_rows.append(
                    (
                        run,
                        it,
                        round(c["objective"], 4),
                        round(c["objective_sq"], 4),
                        round(best_obj, 4),
                        c["n_empty"],
                        c["iter_ms"],
                    )
                )
                history.append(
                    {
                        "run": run,
                        "iter": it,
                        "objective": c["objective"],
                        "objective_sq": c["objective_sq"],
                    }
                )

        final_cdf = _centroids_df(spark, best_centers)
        assignments = assign(points, final_cdf).select(
            "vec_id", "cluster_id", "dist"
        )
    finally:
        # drop the cache (long sessions run many fits); assignments stays
        # valid — it recomputes from the source if consumed later
        points.unpersist()
    metrics = spark.createDataFrame(metrics_rows, METRICS_SCHEMA)
    return KMeansResult(
        centroids=[(cid, vec) for cid, vec in best_centers],
        metrics=metrics,
        best_objective=best_obj,
        assignments=assignments,
        history=history,
    )


def fit_kmeans_mllib(
    spark: SparkSession,
    points: DataFrame,
    k: int = 8,
    num_iter: int = 10,
    seed: int = 42,
):
    """Production/scale path + cross-check: pyspark.ml.clustering.KMeans
    (k-means|| init, squared-distance cost — convert per Q4 before
    comparing to the DF-native loop)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = points.select(
        "vec_id", array_to_vector(F.col("vec")).alias("features")
    )
    model = KMeans(k=k, maxIter=num_iter, seed=seed, featuresCol="features").fit(feats)
    pred = model.transform(feats).select(
        "vec_id", F.col("prediction").alias("cluster_id")
    )
    return model, pred
