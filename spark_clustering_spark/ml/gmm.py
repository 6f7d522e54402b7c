"""Full spherical-GMM EM fit (fixed sigma², free means + mixture
weights) — the iterative driver loop behind the declared
q_ml_gmm_estep / q_ml_gmm_mstep / q_ml_gmm_loglik single-step
surfaces, structured like fit_kmeans (reference kmeans.java:58-201
generalized to soft assignment):

- data stays partitioned and cached; only k·d weighted sums, k
  responsibility masses, and one log-likelihood scalar cross the
  driver per iteration (the R19 inversion — never the points),
  produced by ONE mapInPandas BLAS kernel pass per iteration
  (ml/kernels.gmm_soft_stats — 13.8 s → 1.2 s warm at sf0.1 vs the
  earlier n·k cross-join + posexplode expression loop);
- the hash-verified single-step surfaces (q_ml_gmm_estep/_mstep/
  _loglik) retain the decimal-exact expression path as the oracle
  twin — the fit loop is the production/scale path, combined in
  collect (partition) order like lloyd_iteration_multi;
- EM guarantee kept testable: the per-iteration observed-data
  log-likelihood (computed on the CURRENT parameters, before the
  update) is non-decreasing (tests/test_round5c_ops.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class GMMResult:
    means: list          # k rows of d floats
    weights: list        # k mixture weights
    logliks: list        # per-iteration observed-data loglik (pre-update)
    metrics: DataFrame   # (iteration, loglik, avg_loglik)


def fit_gmm(
    spark: SparkSession,
    points: DataFrame,
    k: int = 8,
    num_iter: int = 3,
    sigma2: float = 4.0,
    seed: int = 42,
) -> GMMResult:
    """EM for a spherical equal-variance GMM over (vec_id, vec) points.

    Init: means = the k lowest-vec_id points (the deterministic init
    shared with centroids_df / FIXTURES.md §3), weights uniform.
    Each iteration is ONE narrow kernel pass over the cached points
    (ml/kernels.gmm_soft_stats): a per-partition BLAS distance matrix
    yields likelihoods, responsibilities, the k·(d+1) weighted-sum
    partials, AND the current-parameter log-likelihood — only
    k·(d+2)·P floats ever cross the wire (the R19 inversion, same as
    fit_kmeans). The earlier expression-path loop (n·k cross-join
    persist + n·k·d posexplode + two collects per iteration) measured
    ~3× slower at sf0.1; the hash-verified single-step surfaces
    q_ml_gmm_estep/_mstep/_loglik keep that decimal-exact expression
    path as the oracle twin — the SemDeDup-style oracle-path /
    scale-path split.
    """
    import numpy as np

    from spark_clustering_spark.ml.kernels import gmm_soft_stats

    if k < 1 or num_iter < 1:
        raise ValueError("k and num_iter must be >= 1")
    points = points.persist()
    try:
        n_pts = points.count()
        init = points.orderBy("vec_id").limit(k).collect()
        means = [list(r.vec) for r in init]
        weights = [1.0 / k] * k

        logliks = []
        hist = []
        for it in range(num_iter):
            stats, ll = gmm_soft_stats(
                points,
                np.array(means, dtype=np.float64),
                np.array(weights, dtype=np.float64),
                sigma2,
            )
            logliks.append(float(ll))
            hist.append((it, float(ll), float(ll) / n_pts))
            new_means = []
            rmass = []
            for cid in range(k):
                rs, wx = stats[cid]
                if rs > 1e-12:
                    new_means.append((wx / rs).tolist())
                else:
                    # starved component: keep its previous mean instead of
                    # dividing ~0/~0 and letting NaN propagate
                    new_means.append(list(means[cid]))
                rmass.append(rs)
            means = new_means
            weights = [m / n_pts for m in rmass]
    finally:
        points.unpersist()

    metrics = spark.createDataFrame(
        hist, "iteration int, loglik double, avg_loglik double"
    )
    return GMMResult(means=means, weights=weights, logliks=logliks, metrics=metrics)


def fit_gmm_mllib(
    spark: SparkSession,
    points: DataFrame,
    k: int = 8,
    num_iter: int = 20,
    seed: int = 42,
):
    """Production/scale path + cross-check: pyspark.ml.clustering.
    GaussianMixture (full-covariance EM on the JVM) over the same
    (vec_id, vec) points — the MLlib mapping for the GMM surface,
    mirroring fit_kmeans_mllib (ml/kmeans.py:219). Returns (model,
    pred) where pred = (vec_id, cluster_id hard argmax, probability
    responsibilities). Co-membership agreement vs the spherical EM
    loop on a well-separated fixture is asserted in
    tests/test_clustering.py."""
    from pyspark.ml.clustering import GaussianMixture
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import functions as F

    feats = points.select(
        "vec_id", array_to_vector(F.col("vec")).alias("features")
    )
    model = GaussianMixture(
        k=k, maxIter=num_iter, seed=seed, featuresCol="features"
    ).fit(feats)
    pred = model.transform(feats).select(
        "vec_id",
        F.col("prediction").alias("cluster_id"),
        "probability",
    )
    return model, pred
