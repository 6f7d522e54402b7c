"""Particle-swarm-optimization clustering — reference pso.java, R14-R17.

Scale inversion (SURVEY.md §4.3): the reference parallelizes over ≤20
particles with the dataset replicated (pso.java:193,343); here the
swarm state (positions X, velocities V, personal bests — P·k·d doubles,
a few KB) lives in driver numpy, and each iteration runs ONE
distributed pass over the partitioned data that evaluates ALL
particles' objectives simultaneously (ml/kernels.pso_objectives:
the P·k·d swarm is broadcast, each partition computes one distance
matrix per particle and its Σ min-dist, and the driver adds the
P·num_partitions partial sums).

Velocity/position update (R14):
- canonical (default):       v ← w·v + c1·r1·(pbest−x) + c2·r2·(gbest−x)
- reference_compat=True (Q2): v ←       c1·r1·(pbest−x) + c2·r2·(gbest−x)
  reproducing pso.java:139-141 where the inertia term is computed and
  then overwritten.
Velocity clamp (R14/R17): |v| ≤ v_max = (max−min)/100 per dimension
(pso.java:142-145,199-205). Inertia schedule (pso.java:95):
w(t) = w_max − (w_max−w_min)·t/num_iter.

Determinism (Q5): r1/r2 come from numpy Generator(seed) — the reference
used unseeded Math.random() inside executor closures; here all
randomness is driver-side and seeded.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_clustering_spark.ml.kernels import pso_objectives

PSO_METRICS_SCHEMA = "iter INT, best_objectvalue DOUBLE, iter_ms BIGINT"


@dataclass
class PSOResult:
    gbest: np.ndarray          # (k, d) best centroid set found
    best_objective: float
    metrics: DataFrame
    history: list[dict]


def _vbounds(points: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """R2 + R17: per-dimension (min, max) in one pass → v_max=(max−min)/100."""
    dims = points.select(F.posexplode("vec").alias("pos", "v"))
    rows = (
        dims.groupBy("pos")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
        .orderBy("pos")
        .collect()
    )
    lo = np.array([r["lo"] for r in rows])
    hi = np.array([r["hi"] for r in rows])
    return lo, hi


def fit_pso(
    spark: SparkSession,
    points: DataFrame,
    k: int = 8,
    num_particles: int = 10,
    num_iter: int = 5,
    c1: float = 2.0,
    c2: float = 2.0,
    w_max: float = 0.9,
    w_min: float = 0.4,
    seed: int = 42,
    reference_compat: bool = False,
    tol: float = 0.0,
) -> PSOResult:
    """PSO loop. ``points``: (vec_id, vec array<double>).

    ``tol`` > 0 adds convergence stopping (the reference runs a fixed
    num_iter, pso.java — a production fit wants tol): stop when an
    iteration improves gbest by less than tol. tol=0 reproduces the
    fixed-iteration history exactly."""
    points = points.persist()
    try:
        n = points.count()
        d = len(points.select("vec").head()["vec"])

        lo, hi = _vbounds(points)
        v_max = (hi - lo) / 100.0  # R17 (pso.java:199-205)

        rng = np.random.default_rng(seed)
        P = num_particles
        # init positions uniform in [lo, hi] per dim (R9 analog), zero velocity
        X = rng.uniform(lo, hi, size=(P, k, d))
        V = np.zeros((P, k, d))
        pbest = X.copy()

        pbest_obj = pso_objectives(points, X)
        g_idx = int(np.argmin(pbest_obj))
        gbest, gbest_obj = pbest[g_idx].copy(), float(pbest_obj[g_idx])

        metrics_rows: list[tuple] = []
        history: list[dict] = []

        for it in range(num_iter):
            t0 = time.time()
            prev_gbest = gbest_obj
            w_now = w_max - (w_max - w_min) * it / max(num_iter, 1)  # pso.java:95
            r1 = rng.random((P, k, d))
            r2 = rng.random((P, k, d))
            social = c1 * r1 * (pbest - X) + c2 * r2 * (gbest[None, :, :] - X)
            V = social if reference_compat else w_now * V + social  # Q2
            V = np.clip(V, -v_max, v_max)  # R14 clamp (pso.java:142-145)
            X = X + V

            obj = pso_objectives(points, X)  # R15
            improved = obj < pbest_obj
            pbest[improved] = X[improved]
            pbest_obj[improved] = obj[improved]
            g_idx = int(np.argmin(pbest_obj))  # R16
            if pbest_obj[g_idx] < gbest_obj:
                gbest, gbest_obj = pbest[g_idx].copy(), float(pbest_obj[g_idx])

            metrics_rows.append((it, round(gbest_obj, 4), int((time.time() - t0) * 1000)))
            # clamp evidence: max |v|/v_max over all particles/dims AFTER the
            # R14 clip — must be <= 1 every iteration (pso.java:142-145); the
            # ref-config invariant suite asserts it (VERDICT r7 task 5)
            vr = float(np.max(np.abs(V) / np.maximum(v_max, 1e-300)))
            history.append(
                {"iter": it, "objs": obj.tolist(), "gbest": gbest_obj,
                 "v_max_ratio": vr}
            )
            if tol > 0 and it > 0 and prev_gbest - gbest_obj < tol:
                break  # converged: gbest improved by less than tol
    finally:
        points.unpersist()
    metrics = spark.createDataFrame(metrics_rows, PSO_METRICS_SCHEMA)
    return PSOResult(
        gbest=gbest, best_objective=gbest_obj, metrics=metrics, history=history
    )
