"""Streaming mini-batch k-means over a replayed embedding stream.

The reference fits (kmeans.java) are batch driver loops; this is the
same Lloyd assignment kernel served as TRUE Structured Streaming:
the corpus replays as a vec_id-ordered file stream (the harness.py
pattern), each micro-batch runs one map-side assignment pass against
the current centroids (ml/kernels.lloyd_iteration_multi with one run —
the same Lloyd kernel fit_kmeans runs its restarts through; the
hash-verified q_assign_nearest / q_centroid_update keys run the
DataFrame expression path instead), and the driver folds the per-batch
sufficient statistics into the running centers with the standard
decay-weighted mini-batch update:

    c ← (n_eff·c + Σ_batch x) / (n_eff + n_batch),  n_eff = decay·n

This is a sequential mini-batch fold (Spark's old StreamingKMeans
center-update rule — cross-checked against
pyspark.mllib.clustering.StreamingKMeansModel in tests; the one MLlib
behavior NOT implemented is the dying-cluster rule, which splits the
largest cluster when minWeight < 1e-8·maxWeight, so the cross-check
can diverge under decay < 1 with persistently empty clusters — the
test fixtures keep every cluster fed): each batch
assigns against the centers as updated by the batches before it, so
arrival order matters and is pinned by stamped mtimes; decay < 1
forgets the past, decay = 1.0 accumulates all mass. Only k·d floats
+ k counts live on the driver — the stream itself never collects.

Scale: each micro-batch is one narrow mapInPandas pass (BLAS
per-partition, k·d-row partials); state is O(k·d) regardless of
stream length — the same inversion as the batch fits (R19).
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from spark_clustering_spark.io import scratch
from spark_clustering_spark.ml.kernels import lloyd_iteration_multi
from spark_clustering_spark.operators.clustering import points_df
from spark_clustering_spark.streaming.harness import _drain, write_replay_chunks

STREAM_KMEANS_SCHEMA = (
    "cluster_id INT, n_weight DOUBLE, n_batches INT, center ARRAY<DOUBLE>"
)


def fit_kmeans_stream(
    spark: SparkSession,
    sf_dir: str,
    k: int = 8,
    n_chunks: int = 4,
    decay: float = 1.0,
) -> DataFrame:
    """Run the mini-batch fit over the full replay (availableNow) and
    return one row per cluster: (cluster_id, n_weight, n_batches,
    center). Deterministic: chunks arrive in chunk order (strictly
    increasing mtimes stamped by write_replay_chunks +
    maxFilesPerTrigger=1), init is the k lowest vec_ids (Q5).

    The replay is (vec_id, vec) as n_chunks vec_id-ranged parquet
    files (the harness.py events pattern, applied to embeddings).
    A drain that times out raises: a partly folded stream is a wrong
    fit, not a result.

    The fold is order-dependent — each micro-batch assigns against the
    centers as already updated by earlier batches (a sequential
    mini-batch pass, MLlib StreamingKMeans semantics, NOT a single
    batch Lloyd half-step even at decay=1.0) — which is why arrival
    order must be pinned. Cross-checked batch-for-batch against
    pyspark.mllib.clustering.StreamingKMeansModel.update in
    tests/test_streaming.py."""
    replay = scratch("stream_kmeans_replay")
    write_replay_chunks(points_df(spark, sf_dir), "vec_id", replay, n_chunks)
    ckpt = scratch("stream_kmeans_ck")
    init = points_df(spark, sf_dir).orderBy("vec_id").limit(k).collect()
    centers = np.array([list(r["vec"]) for r in init], dtype=np.float64)
    weights = np.zeros(k, dtype=np.float64)
    state = {"batches": 0}

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        pts = batch_df.select("vec_id", "vec")
        stats = lloyd_iteration_multi(pts, {0: centers})[0]
        # MLlib StreamingKMeans semantics: the per-batch discount
        # applies to EVERY cluster, including ones this batch sends
        # no points to (their mass decays, centers stay put)
        np.multiply(weights, decay, out=weights)
        for row in stats:
            c = row["cluster_id"]
            nb = float(row["n_points"])
            sb = np.array(row["mean"], dtype=np.float64) * nb
            centers[c] = (centers[c] * weights[c] + sb) / (weights[c] + nb)
            weights[c] += nb
        state["batches"] += 1

    q = (
        spark.readStream.schema("vec_id BIGINT, vec ARRAY<DOUBLE>")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(replay, "chunk_*"))
        .writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    if not _drain(q):
        raise TimeoutError(
            "fit_kmeans_stream: the replay did not drain; stopped after "
            f"{state['batches']} micro-batches"
        )
    rows = [
        (int(c), float(weights[c]), int(state["batches"]), centers[c].tolist())
        for c in range(k)
    ]
    return spark.createDataFrame(rows, STREAM_KMEANS_SCHEMA)
