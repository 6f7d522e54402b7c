"""Equivalence proof for the GEMM-prefilter exact-kNN path
(pipeline.similarity.knn_topk_gemm_exact — the production top-k
generator for q_vec_knn_graph / q_ml_knn_classify since round 7):
bit-identical to scoring EVERY pair with the declared dot_dec
expression, across scales; plus the count-derived block-grid gate
(per-task tile bytes must stay bounded while the task count grows
linearly with the pair count) and the adversarial boundary-tie
fixture exercising survivors strictly inside the float/decimal
margin band."""

from __future__ import annotations

import pytest

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _blocked_cross(a: DataFrame, b: DataFrame, b_key: str) -> DataFrame:
    """All-pairs a×b WITHOUT broadcasting either data table: the corpus
    side ``b`` is hash-partitioned into blocks by ``b_key % n_blocks``
    and shuffled ONCE; the probe side ``a`` is replicated across the
    block ids via a broadcast of the block list (the only broadcast —
    constant-sized, never data-derived).

    Explicit ``repartition(width, _blk)`` on BOTH sides keeps AQE from
    coalescing the byte-tiny-but-compute-heavy pair-generation shuffle
    to one reducer, and the ``shuffle_hash`` hint on the corpus side
    keeps the planner from turning it into a BroadcastExchange at small
    SF. Every pair flows through the caller's scoring expressions."""
    from spark_clustering_spark.io import shuffle_width

    spark = a.sparkSession
    width = shuffle_width(spark)
    n_blocks = 4 * width  # ≥4 keys per reducer: evens out hash collisions
    blocks = spark.range(n_blocks).select(F.col("id").cast("int").alias("_blk"))
    a_rep = a.crossJoin(F.broadcast(blocks)).repartition(width, F.col("_blk"))
    b_blk = (
        b.withColumn("_blk", F.pmod(F.col(b_key), F.lit(n_blocks)).cast("int"))
        .repartition(width, F.col("_blk"))
        .hint("shuffle_hash")
    )
    return a_rep.join(b_blk, "_blk").drop("_blk")


def _declared_topk(spark, sf_dir, knn_mod, k):
    """All-pairs exact top-k (_blocked_cross + the declared keys'
    dot_dec scoring + window), the ground truth for the GEMM path."""
    from spark_clustering_spark.functions.distance import as_double_array, dot_dec
    from spark_clustering_spark.io import table

    e = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % knn_mod == 0)
        .select("vec_id", as_double_array("embedding").alias("vec"))
    )
    n = e.select(
        "vec_id", "vec",
        F.sqrt(dot_dec(F.col("vec"), F.col("vec")).cast("double")).alias("nrm"),
    )
    a = n.select(
        F.col("vec_id").alias("src"), F.col("vec").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = n.select(
        F.col("vec_id").alias("dst"), F.col("vec").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    scored = (
        _blocked_cross(a, b, "dst")
        .filter(F.col("src") != F.col("dst"))
        .select(
            "src", "dst",
            (
                dot_dec(F.col("va"), F.col("vb")).cast("double")
                / (F.col("na") * F.col("nb"))
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("src").orderBy(F.col("cos").desc(), F.col("dst"))
    topk = scored.select(
        "src", "dst", "cos", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= k)
    return a, b, topk


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_gemm_exact_equals_declared_all_pairs(spark, sf_dir):
    from spark_clustering_spark.pipeline.similarity import (
        KNN_K,
        KNN_MOD,
        knn_topk_gemm_exact,
    )

    a, b, declared = _declared_topk(spark, sf_dir, KNN_MOD, KNN_K)
    got = knn_topk_gemm_exact(a, b, KNN_K)
    d = {(r["src"], r["rn"]): (r["dst"], r["cos"]) for r in declared.collect()}
    g = {(r["src"], r["rn"]): (r["dst"], r["cos"]) for r in got.collect()}
    assert d == g  # same neighbours, same ranks, bit-identical cosines


def test_gemm_exact_equality_holds_on_multiblock_grid(spark):
    """The derived grid collapses the small test corpora to 1x1 —
    which would leave the MULTI-block machinery (per-block top-k
    union, global k-th off the union, survivor pass across block
    pairs) untested. Force an asymmetric 3x5 grid on sf0.01 and
    assert bit-identical output to the derived grid (itself proven
    equal to the declared all-pairs path above): equality must hold
    for ANY grid, which is exactly the losslessness argument."""
    from spark_clustering_spark.pipeline.similarity import (
        KNN_K,
        KNN_MOD,
        knn_topk_gemm_exact,
    )

    a, b, _ = _declared_topk(spark, "/root/testdata/sf0.01", KNN_MOD, KNN_K)
    derived = {
        (r["src"], r["rn"]): (r["dst"], r["cos"])
        for r in knn_topk_gemm_exact(a, b, KNN_K).collect()
    }
    forced = {
        (r["src"], r["rn"]): (r["dst"], r["cos"])
        for r in knn_topk_gemm_exact(a, b, KNN_K, bs=3, bc=5).collect()
    }
    assert derived == forced


def test_gemm_grid_tile_bounded_and_task_count_linear():
    """The scale gate for VERDICT r7 task 1: across a 10^6x corpus
    sweep the per-task GEMM working set (score tile + both input
    slabs) must stay under the fixed byte budget — the fixed 8x8 grid
    this replaces grew the tile quadratically with the corpus — and
    the task count bs*bc must grow linearly with the pair count (the
    work is O(n_sub*n) by definition; anything superlinear in task
    count or memory is a regression)."""
    from spark_clustering_spark.ml.kernels import GEMM_TILE_BYTES
    from spark_clustering_spark.pipeline.similarity import _gemm_grid

    d, k = 64, 5
    prev_tasks = 0
    grids = {}
    for n in (500, 2_000, 20_000, 200_000, 2_000_000, 20_000_000, 500_000_000):
        n_sub = max(1, n // 8)
        bs, bc = _gemm_grid(n_sub, n, d, k)
        rows_a = -(-n_sub // bs)
        rows_b = -(-n // bc)
        tile = 8 * (rows_a * rows_b + rows_a * d + rows_b * d)
        # bounded per-task memory at ANY corpus size (1.5x: the slab
        # caps are budget/4 each on top of the score-tile budget)
        assert tile <= GEMM_TILE_BYTES * 3 // 2, (n, bs, bc, tile)
        # task count is monotone in data size…
        assert bs * bc >= prev_tasks, (n, bs, bc, prev_tasks)
        prev_tasks = bs * bc
        grids[n] = (bs, bc, bs * bc)
    # …and linear in pair count: 100x the rows -> 10_000x the pairs ->
    # task count within 4x of 10_000x once blocks are non-trivial
    t_small, t_big = grids[200_000][2], grids[20_000_000][2]
    assert 10_000 / 4 <= t_big / t_small <= 10_000 * 4, grids
    # tiny inputs collapse to a single task, not an over-sharded grid
    assert grids[500] == (1, 1, 1), grids[500]


def test_gemm_exact_boundary_ties_inside_margin(spark):
    """Adversarial margin fixture (VERDICT r7 task 2): the
    losslessness proof's worst case is float cosines that tie within
    ~1e-7 of the k-th value — closer than the float/decimal dot
    divergence bound, so ONLY the margin keeps the true top-k alive
    into the exact re-rank. Build one probe against a corpus whose
    cosines are spaced 1e-8 apart around the k-th (20 candidates
    inside a 2e-7 band), plus exact duplicates (cos ties resolved by
    dst) and far-away decoys the prefilter must drop, and assert the
    kernel returns EXACTLY the brute-force dot_dec ranking."""
    from spark_clustering_spark.functions.distance import dot_dec
    from spark_clustering_spark.pipeline.similarity import knn_topk_gemm_exact

    d, k = 64, 5
    zeros = [0.0] * (d - 2)

    def vec(c0: float, c1: float) -> list[float]:
        return [c0, c1] + zeros

    # probe: unit vector along dim 0
    sub_rows = [(1000, vec(1.0, 0.0))]
    corpus_rows = []
    # 20 near-ties: cos ~= 0.9 + j*1e-8 (c1 fixed => norm drifts only
    # in the 9th decimal; the float spacing stays ~1e-8, well inside
    # the 2*slack margin band and an order of magnitude tighter than
    # the 1e-7 worst-case divergence the proof budgets for)
    for j in range(20):
        corpus_rows.append((j, vec(0.9 + j * 1e-8, 0.43588989)))
    # 3 exact duplicates of the band's midpoint: identical cos, the
    # window must resolve them by dst
    for j in range(20, 23):
        corpus_rows.append((j, vec(0.9 + 10 * 1e-8, 0.43588989)))
    # decoys far below the band: must be pruned by the threshold
    for j in range(23, 43):
        corpus_rows.append((j, vec(0.1, 0.99498744)))

    sub = spark.createDataFrame(
        sub_rows, "src bigint, va array<double>"
    ).withColumn(
        "na", F.sqrt(dot_dec(F.col("va"), F.col("va")).cast("double"))
    )
    corpus = spark.createDataFrame(
        corpus_rows, "dst bigint, vb array<double>"
    ).withColumn(
        "nb", F.sqrt(dot_dec(F.col("vb"), F.col("vb")).cast("double"))
    )

    brute = (
        sub.crossJoin(corpus)
        .filter(F.col("src") != F.col("dst"))
        .select(
            "src",
            "dst",
            (
                dot_dec(F.col("va"), F.col("vb")).cast("double")
                / (F.col("na") * F.col("nb"))
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("src").orderBy(F.col("cos").desc(), F.col("dst"))
    want = {
        (r["src"], r["rn"]): (r["dst"], r["cos"])
        for r in brute.select(
            "src", "dst", "cos", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= k)
        .collect()
    }
    got = {
        (r["src"], r["rn"]): (r["dst"], r["cos"])
        for r in knn_topk_gemm_exact(sub, corpus, k).collect()
    }
    assert want == got
    # the fixture is only adversarial if the band is real: the top-k
    # must all come out of the 1e-8-spaced cluster (the three exact
    # duplicates of the midpoint rank above the lower band members,
    # dst-tie-broken among themselves)
    assert {v[0] for v in got.values()} <= set(range(23))


@pytest.mark.slow
def test_gemm_exact_equals_declared_all_pairs_sf01(spark):
    from spark_clustering_spark.pipeline.similarity import (
        KNN_K,
        KNN_MOD,
        knn_topk_gemm_exact,
    )

    a, b, declared = _declared_topk(spark, "/root/testdata/sf0.1", KNN_MOD, KNN_K)
    got = knn_topk_gemm_exact(a, b, KNN_K)
    d = {(r["src"], r["rn"]): (r["dst"], r["cos"]) for r in declared.collect()}
    g = {(r["src"], r["rn"]): (r["dst"], r["cos"]) for r in got.collect()}
    assert d == g


def test_near_dup_grid_tile_bounded_and_task_count_linear():
    """VERDICT r8 task 1 gate for the pair kernels: ``gemm_tile`` — the
    one tile rule of the broadcast, cogroup and per-cluster GEMM paths
    — keeps the cap² score tile and the cap×d input slab under the
    fixed budget for every dimension, and the blocked cogroup grid it
    derives (B = ceil(n / cap)) keeps the per-task working set bounded
    at ANY corpus size — the fixed n_blocks=8 it replaces gave a
    (n/8)² tile, ~8.6 GB/task right where the path first engages —
    while the B(B+1)/2 unordered-block-pair task count grows linearly
    with the pair count n²."""
    from spark_clustering_spark.ml.kernels import GEMM_TILE_BYTES, gemm_tile

    for d in (1, 8, 64, 768, 4096):
        cap = gemm_tile(d)
        assert cap >= 1 and cap * cap * 8 <= GEMM_TILE_BYTES, (d, cap)
        assert cap * d * 8 <= GEMM_TILE_BYTES // 4, (d, cap)  # input slab cap
    d = 64
    cap = gemm_tile(d)
    prev_tasks = 0
    tasks_at = {}
    for n in (500, 262_144, 2_000_000, 20_000_000, 500_000_000):
        nb = max(1, -(-n // cap))
        rows = -(-n // nb)
        tile = 8 * (rows * rows + 2 * rows * d)
        assert tile <= GEMM_TILE_BYTES * 3 // 2, (n, nb, tile)
        tasks = nb * (nb + 1) // 2
        assert tasks >= prev_tasks, (n, tasks, prev_tasks)
        prev_tasks = tasks
        tasks_at[n] = tasks
    # 10x the rows -> 100x the pairs -> task count within 4x of 100x
    ratio = tasks_at[20_000_000] / tasks_at[2_000_000]
    assert 100 / 4 <= ratio <= 100 * 4, tasks_at


def test_semdedup_hot_cluster_subtiles_match_brute_force(spark):
    """A single cluster far larger than the GEMM row cap must produce
    exactly the brute-force pair set — the sub-tile loop added for the
    r8 hot-cluster routing note cannot drop, duplicate, or misindex
    pairs across tile boundaries."""
    import numpy as np

    from spark_clustering_spark.pipeline.similarity import semdedup_pairs_gemm

    rng = np.random.RandomState(7)
    n, d = 1500, 8  # cap at 8 MiB/d=8 is 1024 -> 2x2 sub-tile grid
    X = rng.randn(n, d)
    X[7] = X[3] * 2.0       # exact duplicates across tile boundary...
    X[1203] = X[3] * 0.5    # ...and inside the far tile
    rows = [(int(i), [float(x) for x in X[i]], 0) for i in range(n)]
    df = spark.createDataFrame(
        rows, "vec_id BIGINT, vec ARRAY<DOUBLE>, cid BIGINT"
    )
    got = {
        (r["keep_id"], r["drop_id"])
        for r in semdedup_pairs_gemm(df, threshold=0.999).collect()
    }
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    S = Xn @ Xn.T
    iu, ju = np.where(S >= 0.999)
    want = {(int(a), int(b)) for a, b in zip(iu, ju) if a < b}
    assert got == want and {(3, 7), (3, 1203), (7, 1203)} <= got
