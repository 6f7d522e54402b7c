"""Similarity search over embedding columns.

Two paths:

- ``q_sim_topk_cosine``: brute-force top-k cosine for a probe set. The
  oracle-parity formulation computes dot products via exact
  DECIMAL(38,8) sums over posexploded (probe, candidate, dim) rows —
  order-proof, hence hash-identical in DuckDB. The fast float path
  (zip_with fold, no explode) is ``cosine_topk_fast`` below and is what
  bench/fit loops use.
- ``cosine_lsh_buckets``: the scale path — random-hyperplane LSH (fixed
  seeded planes) buckets vectors so candidate generation is a groupBy
  join instead of an n² cross join.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_clustering_spark.functions.detagg import DEC, dround, sql_dround
from spark_clustering_spark.functions.distance import as_double_array, cosine, dot_dec
from spark_clustering_spark.functions.rng import py_lcg_uniform
from spark_clustering_spark.io import artifact, pin, shuffle_width, table
from spark_clustering_spark.ml.kernels import (
    GEMM_TILE_BYTES,
    cosine_pairs,
    gemm_tile,
    unit_rows,
)
from spark_clustering_spark.registry import query

N_PROBES = 5
TOP_K = 10


@query(
    "q_sim_topk_cosine",
    oracle=f"""
    WITH ve AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
    ),
    unn AS (
      SELECT vec_id, unnest(vec) AS v, generate_subscripts(vec, 1) AS pos FROM ve
    ),
    norms AS (
      SELECT vec_id,
             sqrt(cast(cast(sum((CASE WHEN abs(v * v) < 5e-9 THEN cast(0 AS DECIMAL(38,8)) ELSE cast(cast(v * v AS VARCHAR) AS DECIMAL(38,8)) END)) AS VARCHAR) AS DOUBLE)) AS nrm
      FROM unn GROUP BY vec_id
    ),
    dots AS (
      SELECT a.vec_id AS probe_id, b.vec_id AS cand_id,
             cast(cast(sum((CASE WHEN abs(a.v * b.v) < 5e-9 THEN cast(0 AS DECIMAL(38,8)) ELSE cast(cast(a.v * b.v AS VARCHAR) AS DECIMAL(38,8)) END)) AS VARCHAR) AS DOUBLE) AS dot
      FROM unn a JOIN unn b ON a.pos = b.pos
      WHERE a.vec_id < {N_PROBES} AND b.vec_id <> a.vec_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.probe_id, d.cand_id, d.dot / (na.nrm * nb.nrm) AS cos
      FROM dots d
      JOIN norms na ON na.vec_id = d.probe_id
      JOIN norms nb ON nb.vec_id = d.cand_id
    )
    SELECT probe_id, cand_id,
           cast(cast(round(cast(cast((cos) AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS cos,
           rn::INT AS rn FROM (
      SELECT probe_id, cand_id, cos,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY cos DESC, cand_id) AS rn
      FROM scored) t
    WHERE rn <= {TOP_K}
    """,
)
def q_sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP_K} cosine neighbors for the {N_PROBES} lowest-id probe
    vectors, with exact-decimal dot products so ranking ties out
    bit-identically against the oracle."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("vec")
    )
    unn = e.select("vec_id", F.posexplode("vec").alias("pos", "v"))
    norms = unn.groupBy("vec_id").agg(
        F.sqrt(F.sum((F.col("v") * F.col("v")).cast(DEC)).cast("double")).alias("nrm")
    )
    a = unn.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), "pos", F.col("v").alias("va")
    )
    b = unn.select(F.col("vec_id").alias("cand_id"), "pos", F.col("v").alias("vb"))
    # broadcast the probe side: `pos` has only d distinct values, so a
    # shuffled join on it would put 1/d of the candidate table on a
    # single reducer at scale. The probe side is N_PROBES·d rows —
    # broadcast-hash it and the candidate side streams with no shuffle.
    dots = (
        F.broadcast(a).join(b, "pos")
        .filter(F.col("cand_id") != F.col("probe_id"))
        .groupBy("probe_id", "cand_id")
        .agg(F.sum((F.col("va") * F.col("vb")).cast(DEC)).cast("double").alias("dot"))
    )
    na = norms.select(F.col("vec_id").alias("probe_id"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("vec_id").alias("cand_id"), F.col("nrm").alias("nb"))
    scored = (
        dots.join(na, "probe_id")
        .join(nb, "cand_id")
        .select("probe_id", "cand_id", (F.col("dot") / (F.col("na") * F.col("nb"))).alias("cos"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos").desc(), F.col("cand_id"))
    return (
        scored.select("probe_id", "cand_id", "cos", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= TOP_K)
        .select("probe_id", "cand_id", dround("cos").alias("cos"), "rn")
    )


def cosine_topk_fast(
    e: DataFrame, probes: DataFrame, k: int = 10
) -> DataFrame:
    """Float fast path: broadcast the probe set, one zip_with fold per
    (probe, candidate) — no explode, stays in whole-stage codegen.
    ``e``/``probes``: (vec_id, vec array<double>)."""
    p = probes.select(F.col("vec_id").alias("probe_id"), F.col("vec").alias("pvec"))
    pairs = e.join(F.broadcast(p), F.col("vec_id") != F.col("probe_id")).withColumn(
        "cos", cosine(F.col("vec"), F.col("pvec"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        pairs.select(
            "probe_id",
            F.col("vec_id").alias("cand_id"),
            "cos",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= k)
    )


def hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> list[list[float]]:
    """Fixed seeded random hyperplanes (LCG-uniform → [-1, 1))."""
    return [
        [2.0 * py_lcg_uniform(p * dim + i, seed) - 1.0 for i in range(dim)]
        for p in range(n_planes)
    ]


def cosine_lsh_buckets(e: DataFrame, dim: int, n_planes: int = 16) -> DataFrame:
    """Scale path: sign-of-projection LSH bucket per vector.

    Vectors sharing a bucket are candidate neighbors; at 100 TB the
    n² cross join becomes a groupBy(bucket) self-join with bounded
    bucket sizes (tune n_planes to data density). Returns
    (vec_id, vec, bucket bigint)."""
    planes = hyperplanes(dim, n_planes)
    bucket = sum(
        [
            F.when(
                F.aggregate(
                    F.zip_with(
                        F.col("vec"),
                        F.array(*[F.lit(c) for c in plane]),
                        lambda x, w: x * w,
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                > 0,
                F.lit(1 << i),
            ).otherwise(F.lit(0))
            for i, plane in enumerate(planes)
        ],
        F.lit(0).cast("bigint"),
    )
    return e.withColumn("bucket", bucket)


def table_ivf_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The default-hyperparameter coarse quantizer over the embeddings
    TABLE, trained once per (application, sf_dir) into the
    session-artifact store (io.artifact) and shared by every declared
    key that routes through it: six keys train the IDENTICAL quantizer
    (same corpus, same seeded init, same Lloyd steps), so per session it
    is one artifact, pinned by ivf_train (≤ nlist·d rows — bounded
    state) and unpersisted with its scope. Keys
    that train on anything other than the raw table (e.g.
    q_sim_ivfpq_topk's residual PQ) store their own kind."""
    return artifact(
        spark, sf_dir, "ivf", lambda: ivf_train(_table_ve(spark, sf_dir))
    )


def table_pq_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-vector PQ codebooks over the embeddings TABLE — stored like
    table_ivf_train for the two keys that share them."""
    return artifact(spark, sf_dir, "pq", lambda: pq_train(_table_ve(spark, sf_dir)))


def _table_ve(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("vec")
    )


IVF_NLIST_MIN = 16    # derived-nlist clamp floor (tiny corpora)
IVF_NLIST_MAX = 4096  # clamp ceiling: codebook stays broadcast-sized
IVF_NPROBE = 4        # lists searched per probe
IVF_TRAIN_ITERS = 2   # Lloyd refinement steps on the coarse quantizer


def ivf_nlist(n: int) -> int:
    """Count-derived coarse quantizer size: clamp(⌊√n⌋, 16, 4096).

    A FIXED nlist makes per-probe candidate volume LINEAR in corpus
    size (nprobe/nlist of the corpus per probe — VERDICT r8 task 2
    measured that linearity as q_sim_ivfpq_topk's 121 s at sf10);
    nlist ∝ √n keeps both the list length (n/nlist) and the quantizer
    scan cost (nlist) at √n, the standard IVF balance point. The cap
    bounds the broadcast codebook at nlist·d doubles (4096·64·8 =
    2 MB). Parity: the DuckDB twin computes the SAME expression —
    greatest/least over floor(sqrt(count(*))) — and both engines
    evaluate sqrt on the same IEEE double, so the derived integer
    matches bit-for-bit."""
    return max(IVF_NLIST_MIN, min(IVF_NLIST_MAX, int(math.floor(math.sqrt(max(n, 0))))))


def ivf_assign(ve: DataFrame, cents: DataFrame, *payload: str) -> DataFrame:
    """Nearest-cell assignment as ONE narrow Arrow pass — no shuffle,
    no per-pair interpreted fold.

    The expression form (crossJoin + euclidean + argmin) evaluates an
    interpreted zip_with/aggregate fold per (vector, centroid) pair —
    Spark's higher-order functions are CodegenFallback, so at a
    count-derived nlist the n·√n·d fold cost dominates (measured 7×
    regression on every IVF key at sf1 when nlist went 16 → 141).
    This kernel broadcasts the cid-sorted centroid matrix (nlist·d ≤
    2 MB by the IVF_NLIST_MAX clamp) and computes squared distances
    DIMS-SEQUENTIAL, ROWS-VECTORIZED:

        acc = 0; for j in 0..d-1: acc += (x_j − c_j)²

    which executes the IDENTICAL IEEE operation sequence per row as
    the left-to-right ``aggregate(zip_with(...))`` fold and DuckDB's
    ``list_distance`` — same doubles, bit-for-bit. The argmin runs on
    ``np.sqrt(acc)``, not the squared accumulator: sqrt is only
    WEAKLY monotone on doubles (two distinct squares can round to the
    same sqrt), and the oracle tiebreaks on (sqrt distance, cid) —
    taking sqrt first makes numpy's first-minimum argmin reproduce
    that tiebreak exactly, while every non-tied result is unchanged
    (ADVICE r9). Columns are ordered by ascending cid. Equality with
    the window argmin is asserted in tests/test_round9_ops.py.

    Per-task memory is budgeted like every GEMM path: rows are
    processed in chunks of ceil(GEMM_TILE_BYTES / (8·nlist)), so the
    (rows × nlist) accumulator and its per-dim temp stay ≤ 8 MiB each
    even at the nlist=4096 clamp ceiling (ADVICE r9 — the default
    10k-row Arrow batch × 4096 cells would otherwise be ~330 MB ×2
    per concurrent task).

    ``ve``: (vec_id, vec, …); ``cents``: (cid, cvec). Returns
    (vec_id, cid, *payload) where payload ⊆ {"vec", "cvec"}.

    The input rides ``io.spread``: a compacted embedding table can be
    ONE parquet row group (the sf10 file is), which would pin this
    n·nlist·d kernel — the classic work-amplifying map — to a single
    core; one narrow shuffle buys full parallelism, and the gate never
    fires once the table has real splits."""
    import numpy as np

    from spark_clustering_spark.io import spread

    spark = ve.sparkSession
    crows = sorted(
        ((int(r["cid"]), list(r["cvec"])) for r in cents.collect()),
        key=lambda t: t[0],
    )
    cids = np.array([c for c, _ in crows], dtype=np.int64)
    cmat = np.array([v for _, v in crows], dtype=np.float64)
    bc = spark.sparkContext.broadcast((cids, cmat))
    fields = ["vec_id bigint", "cid bigint"]
    if "vec" in payload:
        fields.append("vec array<double>")
    if "cvec" in payload:
        fields.append("cvec array<double>")
    want_vec, want_cvec = "vec" in payload, "cvec" in payload

    def assign(batches):
        import pandas as pd

        kids, C = bc.value
        d = C.shape[1]
        nlist = C.shape[0]
        rows_chunk = max(1, GEMM_TILE_BYTES // (8 * nlist))
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(list(pdf["vec"]), dtype=np.float64)
            idx = np.empty(len(X), dtype=np.int64)
            for s in range(0, len(X), rows_chunk):
                Xc = X[s : s + rows_chunk]
                acc = np.zeros((len(Xc), nlist))
                for j in range(d):
                    t = Xc[:, j, None] - C[None, :, j]
                    acc += t * t
                idx[s : s + len(Xc)] = np.argmin(np.sqrt(acc), axis=1)
            out = {"vec_id": pdf["vec_id"].to_numpy(), "cid": kids[idx]}
            if want_vec:
                out["vec"] = pdf["vec"]
            if want_cvec:
                out["cvec"] = [C[i] for i in idx]
            yield pd.DataFrame(out)

    return spread(ve.select("vec_id", "vec"), "vec_id").mapInPandas(
        assign, ", ".join(fields)
    )


def ivf_train(
    ve: DataFrame, nlist: int | None = None, n_iter: int = IVF_TRAIN_ITERS
) -> DataFrame:
    """Train the IVF coarse quantizer: deterministic seeding (the
    ``nlist`` lowest-id vectors) refined by ``n_iter`` Lloyd steps.

    Replaces the round-3 stand-in that used the raw seed vectors as
    cells — trained centroids spread the inverted lists over the data's
    actual density, which is what buys recall at a given nprobe.

    Every step is order-proof so the DuckDB oracle can replay it
    exactly: assignments argmin on the bit-matched ``euclidean`` /
    ``list_distance`` pair with (distance, cid) tiebreak, and the
    centroid update is an exact DECIMAL(38,8) per-dimension sum (sum
    order can't change the bits) divided in IEEE double. Empty cells
    keep their previous centroid. Each step broadcasts the k·d centroid
    table and shuffles only (cid, pos, partials) — the same
    constant-size-state shape as the kmeans kernels, so it holds at
    100 TB. ``nlist`` defaults to the count-derived ``ivf_nlist`` (√n
    clamped; one extra count job). ``ve``: (vec_id, vec array<double>).
    Returns (cid, cvec)."""
    if nlist is None:
        nlist = ivf_nlist(ve.count())
    cents = (
        ve.orderBy("vec_id")
        .limit(nlist)
        .select(F.col("vec_id").alias("cid"), F.col("vec").alias("cvec"))
    )
    for _ in range(n_iter):
        assign = ivf_assign(ve, cents, "vec").select("cid", "vec")
        unn = assign.select("cid", F.posexplode("vec").alias("pos", "v"))
        means = unn.groupBy("cid", "pos").agg(
            (F.sum(F.col("v").cast(DEC)).cast("double") / F.count(F.lit(1))).alias("m")
        )
        newv = means.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("mvec")
        )
        cents = cents.join(newv, "cid", "left").select(
            "cid", F.coalesce("mvec", "cvec").alias("cvec")
        )
    if n_iter > 0:
        # nlist rows of k*d doubles -- pin them so the two consumers
        # (inverted-list assignment and probe routing) don't re-run the
        # training subtree
        cents = pin(cents)
    return cents


def _ivf_train_ctes(n_iter: int) -> str:
    """DuckDB twin of ``ivf_train`` as unrolled CTEs ending in
    ``coarse`` — the same seeded init, Lloyd steps with decimal-exact
    means, and empty-cell carry-over. nlist is computed IN-QUERY from
    count(*) with the same clamp(⌊√n⌋) expression as ``ivf_nlist`` —
    the oracle stays a static string while matching the engine's
    count-derived quantizer size at any scale factor."""
    ctes = [
        f"nl AS (SELECT greatest({IVF_NLIST_MIN}, least({IVF_NLIST_MAX}, "
        f"cast(floor(sqrt(count(*))) AS BIGINT))) AS nlist FROM ve)",
        "cent0 AS (SELECT vec_id AS cid, vec AS cvec FROM ve "
        "QUALIFY row_number() OVER (ORDER BY vec_id) <= (SELECT nlist FROM nl))",
    ]
    for t in range(1, n_iter + 1):
        ctes.append(
            f"""assign{t} AS (
      SELECT v.vec_id, v.vec, c.cid
      FROM ve v CROSS JOIN cent{t - 1} c
      QUALIFY row_number() OVER (PARTITION BY v.vec_id
        ORDER BY list_distance(v.vec, c.cvec), c.cid) = 1
    ),
    means{t} AS (
      SELECT cid, list(m ORDER BY pos) AS mvec FROM (
        SELECT cid, pos,
               cast(cast(sum((CASE WHEN abs(v) < 5e-9 THEN cast(0 AS DECIMAL(38,8)) ELSE cast(cast(v AS VARCHAR) AS DECIMAL(38,8)) END)) AS VARCHAR) AS DOUBLE) / count(*) AS m
        FROM (SELECT cid, unnest(vec) AS v,
                     generate_subscripts(vec, 1) AS pos FROM assign{t})
        GROUP BY cid, pos) GROUP BY cid
    ),
    cent{t} AS (
      SELECT c.cid, coalesce(m.mvec, c.cvec) AS cvec
      FROM cent{t - 1} c LEFT JOIN means{t} m ON m.cid = c.cid
    )"""
        )
    ctes.append(f"coarse AS (SELECT cid, cvec FROM cent{n_iter})")
    return ",\n    ".join(ctes)


@query(
    "q_sim_topk_ivf",
    oracle=f"""
    WITH ve AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
    ),
    {_ivf_train_ctes(IVF_TRAIN_ITERS)},
    lists AS (  -- inverted lists: every vector -> its nearest coarse cell
      SELECT v.vec_id, v.vec, c.cid AS list_id
      FROM ve v CROSS JOIN coarse c
      QUALIFY row_number() OVER (PARTITION BY v.vec_id
        ORDER BY list_distance(v.vec, c.cvec), c.cid) = 1
    ),
    probes AS (SELECT vec_id AS probe_id, vec AS pvec FROM ve WHERE vec_id < {N_PROBES}),
    probe_lists AS (  -- nprobe nearest cells per probe
      SELECT p.probe_id, c.cid AS list_id
      FROM probes p CROSS JOIN coarse c
      QUALIFY row_number() OVER (PARTITION BY p.probe_id
        ORDER BY list_distance(p.pvec, c.cvec), c.cid) <= {IVF_NPROBE}
    ),
    cands AS (
      SELECT pl.probe_id, l.vec_id AS cand_id, l.vec
      FROM probe_lists pl JOIN lists l ON l.list_id = pl.list_id
      WHERE l.vec_id <> pl.probe_id
    ),
    scored AS (
      SELECT c.probe_id, c.cand_id,
             list_cosine_similarity(p.pvec, c.vec) AS cos
      FROM cands c JOIN probes p ON p.probe_id = c.probe_id
    )
    SELECT probe_id, cand_id,
           cast(cast(round(cast(cast((cos) AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS cos,
           rn::INT AS rn
    FROM (
      SELECT probe_id, cand_id, cos,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY cos DESC, cand_id) AS rn
      FROM scored) t
    WHERE rn <= {TOP_K}
    """,
)
def q_sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbor — the scale path for similarity
    search: a kmeans-trained coarse quantizer (``ivf_train``:
    deterministic seeds + Lloyd refinement) partitions vectors into
    inverted lists; each probe searches only its IVF_NPROBE nearest
    lists. Candidate volume drops from n to ~n·nprobe/nlist; at 100 TB
    the lists become the partitioning key so each search touches a
    bounded slice. Exact within searched lists — recall vs. the
    brute-force top-k is measured in tests/test_pipeline.py and
    tools/ivf_recall.py (table in PERF.md)."""
    from spark_clustering_spark.io import table

    ve = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("vec")
    )
    probes = ve.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("vec").alias("pvec")
    )
    top = ivf_topk(ve, table_ivf_train(spark, sf_dir), probes,
                   nprobe=IVF_NPROBE, k=TOP_K)
    return top.select("probe_id", "cand_id", dround("cos").alias("cos"), "rn")


def ivf_topk(
    ve: DataFrame,
    coarse: DataFrame,
    probes: DataFrame,
    nprobe: int = IVF_NPROBE,
    k: int = TOP_K,
) -> DataFrame:
    """IVF search against a given coarse quantizer: assign every vector
    to its nearest cell (inverted lists), route each probe to its
    ``nprobe`` nearest cells, score only those lists. ``ve``: (vec_id,
    vec), ``coarse``: (cid, cvec), ``probes``: (probe_id, pvec).
    Returns (probe_id, cand_id, cos raw, rn)."""
    from spark_clustering_spark.functions.distance import cosine, euclidean

    lists = ivf_assign(ve, coarse, "vec").select(
        "vec_id", "vec", F.col("cid").alias("list_id")
    )
    ppairs = probes.crossJoin(F.broadcast(coarse)).withColumn(
        "cdist", euclidean(F.col("pvec"), F.col("cvec"))
    )
    w_probe = Window.partitionBy("probe_id").orderBy("cdist", "cid")
    probe_lists = (
        ppairs.withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= nprobe)
        .select("probe_id", F.col("cid").alias("list_id"))
    )
    cands = (
        probe_lists.join(lists, "list_id")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", F.col("vec_id").alias("cand_id"), "vec")
    )
    scored = cands.join(F.broadcast(probes), "probe_id").select(
        "probe_id", "cand_id", cosine(F.col("pvec"), F.col("vec")).alias("cos")
    )
    w_top = Window.partitionBy("probe_id").orderBy(F.col("cos").desc(), F.col("cand_id"))
    return scored.select(
        "probe_id", "cand_id", "cos", F.row_number().over(w_top).alias("rn")
    ).filter(F.col("rn") <= k)


def _lsh_bucket_oracle(dim: int = 64, n_planes: int = 12) -> str:
    """Build the DuckDB twin of ``cosine_lsh_buckets``: the seeded
    hyperplanes are plain Python constants, so they inline into the SQL
    as literal arrays — both engines evaluate sign(vec·plane) on
    identical doubles. Sign flips would need |dot| within float-error of
    0; measured min |dot| on the test data is ≥ 6e-5."""
    planes = hyperplanes(dim, n_planes)
    terms = " + ".join(
        f"(CASE WHEN list_dot_product(vec, [{', '.join(repr(c) for c in plane)}]) > 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, plane in enumerate(planes)
    )
    return f"""
    WITH ve AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
    ),
    b AS (SELECT vec_id, ({terms})::BIGINT AS bucket FROM ve)
    SELECT bucket, count(*) AS n_vectors FROM b GROUP BY bucket
    """


@query("q_sim_lsh_buckets", oracle=_lsh_bucket_oracle())
def q_sim_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket histogram — the candidate-generation stage of
    approximate nearest neighbor at scale (bucket sizes bound the
    per-bucket pair blowup). Recall invariants: tests/test_similarity.py."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("vec")
    )
    b = cosine_lsh_buckets(e, dim=64, n_planes=12)
    return b.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_vectors"))


# --- Product quantization (third ANN family beside IVF and sign-LSH) ---

PQ_SUBS = 8      # subspaces
PQ_SUBDIM = 8    # dims per subspace (PQ_SUBS * PQ_SUBDIM = embedding d)
PQ_K = 16        # codebook size per subspace -> 4 bits/code, 8 codes/vector
PQ_ITERS = 1     # Lloyd refinement steps per sub-codebook


def pq_train(ve: DataFrame, n_subs: int = PQ_SUBS, subdim: int = PQ_SUBDIM,
             k: int = PQ_K, n_iter: int = PQ_ITERS) -> DataFrame:
    """Train all ``n_subs`` PQ sub-codebooks in ONE pipeline: slice
    every vector into subvectors (posexplode of slices), seed each
    subspace with its k lowest-id subvectors, and run the same
    order-proof Lloyd step as ``ivf_train`` keyed by subspace — exact
    DECIMAL means, (distance, cid) argmin tiebreak, empty cells keep
    their centroid. Returns (s, cid, cvec). The per-step shuffle is
    (s, cid, pos, partials): n_subs·k·subdim rows of state, constant in
    the corpus size. The subvector stream rides ``io.spread`` so a
    single-row-group input can't pin the n·n_subs·k fold stage to one
    core (the explode and the broadcast-join fold would otherwise run
    in the SCAN's split count)."""
    from spark_clustering_spark.functions.distance import euclidean
    from spark_clustering_spark.io import spread

    subs = spread(
        ve.select(
            "vec_id",
            F.posexplode(
                F.array(*[F.slice("vec", s * subdim + 1, subdim)
                          for s in range(n_subs)])
            ).alias("s", "sub"),
        ),
        "vec_id",
    )
    wseed = Window.partitionBy("s").orderBy("vec_id")
    cents = (
        subs.withColumn("rn", F.row_number().over(wseed))
        .filter(F.col("rn") <= k)
        .select("s", F.col("vec_id").alias("cid"), F.col("sub").alias("cvec"))
    )
    for _ in range(n_iter):
        pairs = subs.join(F.broadcast(cents), "s").withColumn(
            "cdist", euclidean(F.col("sub"), F.col("cvec"))
        )
        w = Window.partitionBy("vec_id", "s").orderBy("cdist", "cid")
        assign = (
            pairs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("s", "cid", "sub")
        )
        unn = assign.select("s", "cid", F.posexplode("sub").alias("pos", "v"))
        means = unn.groupBy("s", "cid", "pos").agg(
            (F.sum(F.col("v").cast(DEC)).cast("double") / F.count(F.lit(1))).alias("m")
        )
        newv = means.groupBy("s", "cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda st: st["m"],
            ).alias("mvec")
        )
        cents = cents.join(newv, ["s", "cid"], "left").select(
            "s", "cid", F.coalesce("mvec", "cvec").alias("cvec")
        )
    return pin(cents)


def pq_encode(ve: DataFrame, cents: DataFrame,
              n_subs: int = PQ_SUBS, subdim: int = PQ_SUBDIM) -> DataFrame:
    """Assign every (vector, subspace) its nearest sub-centroid.
    Returns (vec_id, s, code, qdist) — qdist is the subspace
    quantization L2 error. Spread like pq_train: the per-pair fold is
    the work-amplifying stage."""
    from spark_clustering_spark.functions.distance import euclidean
    from spark_clustering_spark.io import spread

    subs = spread(
        ve.select(
            "vec_id",
            F.posexplode(
                F.array(*[F.slice("vec", s * subdim + 1, subdim)
                          for s in range(n_subs)])
            ).alias("s", "sub"),
        ),
        "vec_id",
    )
    pairs = subs.join(F.broadcast(cents), "s").withColumn(
        "cdist", euclidean(F.col("sub"), F.col("cvec"))
    )
    w = Window.partitionBy("vec_id", "s").orderBy("cdist", "cid")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "s", F.col("cid").alias("code"),
                F.col("cdist").alias("qdist"))
    )


def _pq_sql_ctes(
    n_subs: int, subdim: int, k: int, n_iter: int, src: str = "ve"
) -> str:
    """DuckDB twin of pq_train + pq_encode as CTEs ending in ``codes``
    (vec_id, s, code, qdist). ``src`` is the (vec_id, vec) relation the
    codebooks are trained on — ``ve`` for plain PQ, the residual
    relation for IVFPQ."""
    ctes = [
        f"""subs AS (
      SELECT vec_id, s,
             vec[s * {subdim} + 1 : s * {subdim} + {subdim}] AS sub
      FROM {src} CROSS JOIN (SELECT unnest(range(0, {n_subs})) AS s)
    )""",
        f"""pcent0 AS (
      SELECT s, vec_id AS cid, sub AS cvec FROM subs
      QUALIFY row_number() OVER (PARTITION BY s ORDER BY vec_id) <= {k}
    )""",
    ]
    for t in range(1, n_iter + 1):
        ctes.append(
            f"""passign{t} AS (
      SELECT v.vec_id, v.s, v.sub, c.cid
      FROM subs v JOIN pcent{t - 1} c ON c.s = v.s
      QUALIFY row_number() OVER (PARTITION BY v.vec_id, v.s
        ORDER BY list_distance(v.sub, c.cvec), c.cid) = 1
    ),
    pmeans{t} AS (
      SELECT s, cid, list(m ORDER BY pos) AS mvec FROM (
        SELECT s, cid, pos,
               cast(cast(sum((CASE WHEN abs(v) < 5e-9 THEN cast(0 AS DECIMAL(38,8)) ELSE cast(cast(v AS VARCHAR) AS DECIMAL(38,8)) END)) AS VARCHAR) AS DOUBLE) / count(*) AS m
        FROM (SELECT s, cid, unnest(sub) AS v,
                     generate_subscripts(sub, 1) AS pos FROM passign{t})
        GROUP BY s, cid, pos) GROUP BY s, cid
    ),
    pcent{t} AS (
      SELECT c.s, c.cid, coalesce(m.mvec, c.cvec) AS cvec
      FROM pcent{t - 1} c LEFT JOIN pmeans{t} m
        ON m.s = c.s AND m.cid = c.cid
    )"""
        )
    ctes.append(
        f"""codes AS (
      SELECT v.vec_id, v.s, c.cid AS code,
             list_distance(v.sub, c.cvec) AS qdist
      FROM subs v JOIN pcent{n_iter} c ON c.s = v.s
      QUALIFY row_number() OVER (PARTITION BY v.vec_id, v.s
        ORDER BY list_distance(v.sub, c.cvec), c.cid) = 1
    )"""
    )
    return ",\n    ".join(ctes)


@query(
    "q_sim_pq_codes",
    oracle=f"""
    WITH ve AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
    ),
    {_pq_sql_ctes(PQ_SUBS, PQ_SUBDIM, PQ_K, PQ_ITERS)}
    SELECT vec_id, s::INT AS subspace, code,
           cast(cast(round(cast(cast((qdist) AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS qdist
    FROM codes
    """,
)
def q_sim_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding — the memory-side ANN scale path
    (IVF bounds candidates, PQ bounds bytes): every 64-d vector
    compresses to {PQ_SUBS} 4-bit codes against per-subspace trained
    codebooks, 512× smaller than the float vector. Training and
    encoding are order-proof (same machinery as ``ivf_train``), so the
    whole train→encode pipeline hash-verifies against the DuckDB
    replay. At 100 TB the codebooks are a broadcast k·d table and
    encoding is one narrow pass; the per-step training shuffle is
    constant-size (s, cid, pos) partials."""
    from spark_clustering_spark.io import table

    ve = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("vec")
    )
    codes = pq_encode(ve, table_pq_train(spark, sf_dir))
    return codes.select(
        "vec_id",
        F.col("s").cast("int").alias("subspace"),
        "code",
        dround("qdist").alias("qdist"),
    )


@query(
    "q_sim_pq_adc_topk",
    oracle=f"""
    WITH ve AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
    ),
    {_pq_sql_ctes(PQ_SUBS, PQ_SUBDIM, PQ_K, PQ_ITERS)},
    probes AS (
      SELECT vec_id AS probe_id, s, sub AS psub FROM subs
      WHERE vec_id < {N_PROBES}
    ),
    pe AS (SELECT probe_id, s, unnest(psub) AS pv,
                  generate_subscripts(psub, 1) AS pos FROM probes),
    ce AS (SELECT s, cid, unnest(cvec) AS cv,
                  generate_subscripts(cvec, 1) AS pos FROM pcent{PQ_ITERS}),
    d2 AS (
      SELECT pe.probe_id, pe.s, ce.cid,
             cast(cast(sum(cast((pe.pv - ce.cv) * (pe.pv - ce.cv)
                  AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS d2
      FROM pe JOIN ce ON ce.s = pe.s AND ce.pos = pe.pos
      GROUP BY 1, 2, 3
    ),
    adc AS (
      SELECT d.probe_id, k.vec_id AS cand_id,
             cast(cast(sum(cast(d.d2 AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS adc
      FROM codes k JOIN d2 d ON d.s = k.s AND d.cid = k.code
      WHERE k.vec_id <> d.probe_id
      GROUP BY 1, 2
    )
    SELECT probe_id, cand_id,
           cast(cast(round(cast(cast((adc) AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS adc,
           rn::INT AS rn
    FROM (
      SELECT probe_id, cand_id, adc,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY adc, cand_id) AS rn
      FROM adc) t
    WHERE rn <= {TOP_K}
    """,
)
def q_sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes — the query path
    that makes PQ an ANN method: the probe computes one tiny distance
    table to every sub-centroid (n_probes·{PQ_SUBS}·{PQ_K} entries),
    then every candidate's approximate distance is {PQ_SUBS} table
    lookups summed — the original vectors are NEVER touched at query
    time, which is the whole 100 TB point (8 bytes/vector in memory,
    no float scan). The distance table is decimal-exact per entry and
    the {PQ_SUBS}-term ADC sum is decimal-exact too, so the ranking
    hash-verifies. Shuffle: (probe, cand) partial sums only."""
    from spark_clustering_spark.io import table

    ve = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("vec")
    )
    cents = table_pq_train(spark, sf_dir)
    codes = pq_encode(ve, cents).select("vec_id", "s", "code")
    psubs = ve.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.posexplode(
            F.array(*[F.slice("vec", s * PQ_SUBDIM + 1, PQ_SUBDIM)
                      for s in range(PQ_SUBS)])
        ).alias("s", "psub"),
    )
    sq = psubs.join(F.broadcast(cents), "s").select(
        "probe_id", "s", "cid",
        F.explode(
            F.zip_with("psub", "cvec", lambda x, y: (x - y) * (x - y))
        ).alias("sqd"),
    )
    d2 = sq.groupBy("probe_id", "s", "cid").agg(
        F.sum(F.col("sqd").cast(DEC)).cast("double").alias("d2")
    )
    adc = (
        codes.join(
            F.broadcast(d2.withColumnRenamed("cid", "code")), ["s", "code"]
        )
        .filter(F.col("vec_id") != F.col("probe_id"))
        .groupBy("probe_id", F.col("vec_id").alias("cand_id"))
        .agg(F.sum(F.col("d2").cast(DEC)).cast("double").alias("adc"))
    )
    w = Window.partitionBy("probe_id").orderBy("adc", "cand_id")
    return (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("probe_id", "cand_id", dround("adc").alias("adc"), "rn")
    )


def _ivfpq_oracle() -> str:
    """Combined IVF + residual-PQ oracle: coarse training (unrolled
    Lloyd), residual computation, PQ codebooks trained ON THE RESIDUALS,
    and per-list ADC ranking — every stage decimal-exact or bit-matched,
    so the full IVFPQ pipeline hash-verifies."""
    return f"""
    WITH ve AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
    ),
    {_ivf_train_ctes(IVF_TRAIN_ITERS)},
    ivlists AS (
      SELECT v.vec_id, v.vec, c.cid AS list_id, c.cvec AS lvec
      FROM ve v CROSS JOIN coarse c
      QUALIFY row_number() OVER (PARTITION BY v.vec_id
        ORDER BY list_distance(v.vec, c.cvec), c.cid) = 1
    ),
    rex AS (SELECT vec_id, unnest(vec) AS v,
                   generate_subscripts(vec, 1) AS pos, lvec FROM ivlists),
    resid AS (
      SELECT vec_id, list(v - lvec[pos] ORDER BY pos) AS vec
      FROM rex GROUP BY vec_id
    ),
    {_pq_sql_ctes(PQ_SUBS, PQ_SUBDIM, PQ_K, PQ_ITERS, src="resid")},
    probe_lists AS (
      SELECT p.probe_id, p.pvec, c.cid AS list_id, c.cvec
      FROM (SELECT vec_id AS probe_id, vec AS pvec FROM ve
            WHERE vec_id < {N_PROBES}) p
      CROSS JOIN coarse c
      QUALIFY row_number() OVER (PARTITION BY p.probe_id
        ORDER BY list_distance(p.pvec, c.cvec), c.cid) <= {IVF_NPROBE}
    ),
    prx AS (SELECT probe_id, list_id, unnest(pvec) AS v,
                   generate_subscripts(pvec, 1) AS pos, cvec
            FROM probe_lists),
    presid AS (
      SELECT probe_id, list_id, list(v - cvec[pos] ORDER BY pos) AS rvec
      FROM prx GROUP BY probe_id, list_id
    ),
    psubs AS (
      SELECT probe_id, list_id, s,
             rvec[s * {PQ_SUBDIM} + 1 : s * {PQ_SUBDIM} + {PQ_SUBDIM}] AS psub
      FROM presid CROSS JOIN (SELECT unnest(range(0, {PQ_SUBS})) AS s)
    ),
    pqe AS (SELECT probe_id, list_id, s, unnest(psub) AS pv,
                   generate_subscripts(psub, 1) AS pos FROM psubs),
    pqc AS (SELECT s, cid, unnest(cvec) AS cv,
                   generate_subscripts(cvec, 1) AS pos FROM pcent{PQ_ITERS}),
    d2 AS (
      SELECT pqe.probe_id, pqe.list_id, pqe.s, pqc.cid,
             cast(cast(sum(cast((pqe.pv - pqc.cv) * (pqe.pv - pqc.cv)
                  AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS d2
      FROM pqe JOIN pqc ON pqc.s = pqe.s AND pqc.pos = pqe.pos
      GROUP BY 1, 2, 3, 4
    ),
    adc AS (
      SELECT pl.probe_id, l.vec_id AS cand_id,
             cast(cast(sum(cast(d.d2 AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS adc
      FROM probe_lists pl
      JOIN ivlists l ON l.list_id = pl.list_id
      JOIN codes k ON k.vec_id = l.vec_id
      JOIN d2 d ON d.probe_id = pl.probe_id AND d.list_id = pl.list_id
               AND d.s = k.s AND d.cid = k.code
      WHERE l.vec_id <> pl.probe_id
      GROUP BY 1, 2
    )
    SELECT probe_id, cand_id,
           cast(cast(round(cast(cast((adc) AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS adc,
           rn::INT AS rn
    FROM (
      SELECT probe_id, cand_id, adc,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY adc, cand_id) AS rn
      FROM adc) t
    WHERE rn <= {TOP_K}
    """


@query("q_sim_ivfpq_topk", oracle=_ivfpq_oracle())
def q_sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ — the canonical billion-scale ANN architecture (FAISS
    IVFPQ), composed from this repo's trained pieces: the IVF coarse
    quantizer routes each probe to its IVF_NPROBE lists AND bounds the
    candidate set; vectors are stored only as {PQ_SUBS} 4-bit PQ codes
    of their RESIDUAL (vec − coarse centroid), which quantizes far
    tighter than raw-vector PQ; ranking is per-list ADC — the probe's
    residual against each probed list builds one tiny distance table,
    candidates cost {PQ_SUBS} lookups each, and the original float
    vectors are never read at query time. Every stage (coarse Lloyd,
    residuals, residual-PQ Lloyd, ADC sums) is decimal-exact or
    bit-matched, so the whole pipeline hash-verifies against the DuckDB
    replay. At 100 TB: codebooks broadcast, codes are 4 bytes/vector,
    the per-step training shuffles are constant-size partials."""
    from spark_clustering_spark.functions.distance import euclidean
    from spark_clustering_spark.io import table

    ve = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("vec")
    )
    coarse = table_ivf_train(spark, sf_dir)
    lists = ivf_assign(ve, coarse, "vec", "cvec").select(
        "vec_id", "vec", F.col("cid").alias("list_id"),
        F.col("cvec").alias("lvec"),
    )
    resid = pin(
        lists.select(
            "vec_id",
            F.zip_with("vec", "lvec", lambda x, y: x - y).alias("vec"),
            "list_id",
        )
    )
    # the residual-PQ codebook is deterministic per (app, sf_dir) —
    # coarse quantizer, residuals, and the seeded Lloyd steps all are —
    # so it is trained once into the session-artifact store beside the
    # coarse quantizer (guide §4.3 heavyweight init once; bounded
    # n_subs·k-row artifact, pinned by pq_train).
    # Residuals themselves stay per-run: only the trained MODEL is
    # shared, never data.
    cents = artifact(
        spark, sf_dir, "pq_resid", lambda: pq_train(resid.select("vec_id", "vec"))
    )
    codes = pq_encode(resid.select("vec_id", "vec"), cents).select(
        F.col("vec_id").alias("cand_id"), "s", "code"
    )
    probes = ve.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("vec").alias("pvec")
    )
    ppairs = probes.crossJoin(F.broadcast(coarse)).withColumn(
        "cdist", euclidean(F.col("pvec"), F.col("cvec"))
    )
    wp = Window.partitionBy("probe_id").orderBy("cdist", "cid")
    probe_lists = (
        ppairs.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= IVF_NPROBE)
        .select("probe_id", F.col("cid").alias("list_id"), "cvec", "pvec")
    )
    presid = probe_lists.select(
        "probe_id", "list_id",
        F.zip_with("pvec", "cvec", lambda x, y: x - y).alias("rvec"),
    )
    psubs = presid.select(
        "probe_id", "list_id",
        F.posexplode(
            F.array(*[F.slice("rvec", s * PQ_SUBDIM + 1, PQ_SUBDIM)
                      for s in range(PQ_SUBS)])
        ).alias("s", "psub"),
    )
    sq = psubs.join(F.broadcast(cents), "s").select(
        "probe_id", "list_id", "s", "cid",
        F.explode(
            F.zip_with("psub", "cvec", lambda x, y: (x - y) * (x - y))
        ).alias("sqd"),
    )
    d2 = sq.groupBy("probe_id", "list_id", "s", "cid").agg(
        F.sum(F.col("sqd").cast(DEC)).cast("double").alias("d2")
    )
    cand = (
        probe_lists.select("probe_id", "list_id")
        .join(lists.select(F.col("vec_id").alias("cand_id"), "list_id"),
              "list_id")
        .filter(F.col("cand_id") != F.col("probe_id"))
    )
    adc = (
        cand.join(codes, "cand_id")
        .join(F.broadcast(d2.withColumnRenamed("cid", "code")),
              ["probe_id", "list_id", "s", "code"])
        .groupBy("probe_id", "cand_id")
        .agg(F.sum(F.col("d2").cast(DEC)).cast("double").alias("adc"))
    )
    wt = Window.partitionBy("probe_id").orderBy("adc", "cand_id")
    return (
        adc.withColumn("rn", F.row_number().over(wt))
        .filter(F.col("rn") <= TOP_K)
        .select("probe_id", "cand_id", dround("adc").alias("adc"), "rn")
    )


# --- Semantic deduplication (SemDeDup) ---

SEM_TAU = 0.35  # within-cluster cosine above which two docs are semantic dups
                # (0.35 on the synthetic embeddings ~ the 0.95+ a real
                # embedding model would use; chosen so the check is non-vacuous)


@query(
    "q_dedup_semantic",
    oracle=f"""
    WITH ve AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
    ),
    {_ivf_train_ctes(IVF_TRAIN_ITERS)},
    assign AS (
      SELECT v.vec_id, v.vec, c.cid
      FROM ve v CROSS JOIN coarse c
      QUALIFY row_number() OVER (PARTITION BY v.vec_id
        ORDER BY list_distance(v.vec, c.cvec), c.cid) = 1
    ),
    dup AS (
      SELECT a.vec_id AS keep_id, b.vec_id AS drop_id
      FROM assign a JOIN assign b
        ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.vec, b.vec) >= {SEM_TAU}
    ),
    reps AS (SELECT drop_id, min(keep_id) AS rep FROM dup GROUP BY drop_id)
    SELECT s.vec_id, s.cid::INT AS cid,
           (CASE WHEN r.rep IS NULL THEN 1 ELSE 0 END)::INT AS keep,
           coalesce(r.rep, s.vec_id) AS rep_id
    FROM assign s LEFT JOIN reps r ON r.drop_id = s.vec_id
    """,
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with the trained
    coarse quantizer (``ivf_train`` — seeded + Lloyd-refined, fully
    oracle-replayable), then mark a document a duplicate iff a
    LOWER-ID document in the SAME cluster has cosine >= SEM_TAU to it
    (the paper's "keep one representative per semantic-dup group" with
    a deterministic keep rule). Emits every vector with its cluster,
    keep flag, and canonical representative.

    Scale: this is the whole point of SemDeDup — clustering bounds the
    pairwise expansion from n² to Σ_k n_k², and each cluster's pair
    block is an equi-join on cid (co-partitioned shuffle, no cross
    join). The k·d centroid table broadcasts; embeddings shuffle once
    on cid. At 100 TB, nlist scales with corpus size to hold n_k
    roughly constant, and the within-cluster block feeds the same
    blocked-GEMM kernel as q_dedup_embedding if clusters are hot."""
    from spark_clustering_spark.io import table

    ve = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("vec")
    )
    return semdedup(ve, cents=table_ivf_train(spark, sf_dir))


def semdedup(ve: DataFrame, cents: DataFrame) -> DataFrame:
    """The declared SemDeDup path as a function of the vector corpus and
    its trained centroids — assign + GEMM pair scan + representative
    join. Its end-to-end growth on a replicated corpus is recorded in
    PERF.md (round 5, "semdedup DECLARED")."""
    # assignment via the map-side-combined min-struct aggregate: the
    # previous literal-inlined centroid expressions were fine at the
    # old fixed nlist=16 but become a √n·d-literal tree once nlist is
    # count-derived (28k literals at sf10 — codegen breaker). Tiebreak
    # identical to the oracle's (cdist, cid).
    assign = ivf_assign(ve, cents, "vec").select(
        "vec_id", "vec", F.col("cid").cast("bigint").alias("cid")
    )
    # pair scan via the BLAS per-cluster kernel (63x the expression
    # path at 16x corpus -- PERF.md). Safe for hash parity: only the
    # pair SET feeds the output, and the nearest cosine to SEM_TAU on
    # this data is ~3e-5 away (measured) vs ~1e-15 of GEMM-vs-fold
    # float noise, so no pair can flip against the oracle's
    # list_cosine_similarity. The expression-path twin is asserted
    # row-identical in tests/test_scale.py.
    dup = semdedup_pairs_gemm(assign)
    reps = dup.groupBy("drop_id").agg(F.min("keep_id").alias("rep"))
    return assign.join(
        reps, assign["vec_id"] == reps["drop_id"], "left"
    ).select(
        "vec_id",
        F.col("cid").cast("int").alias("cid"),
        F.when(F.col("rep").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("keep"),
        F.coalesce("rep", "vec_id").alias("rep_id"),
    )


# --- Coreset selection (greedy k-center) and MMR re-ranking ---

KC_K = 4        # exemplars chosen by greedy farthest-point
KC_SEED_ID = 0  # deterministic start: the lowest-id vector


def _kcenter_sql() -> str:
    sel = ["SELECT 1 AS sel, vec_id, 0.0 AS dist FROM s1"]
    ctes = [
        f"s1 AS (SELECT vec_id, vec FROM ve WHERE vec_id = {KC_SEED_ID})",
        f"""d1 AS (
      SELECT v.vec_id, v.vec, list_distance(v.vec, s.vec) AS md
      FROM ve v CROSS JOIN s1 s WHERE v.vec_id <> {KC_SEED_ID}
    )""",
    ]
    for t in range(2, KC_K + 1):
        ctes.append(
            f"""s{t} AS (
      SELECT vec_id, vec, md FROM d{t - 1}
      QUALIFY row_number() OVER (ORDER BY md DESC, vec_id) = 1
    )"""
        )
        sel.append(
            f"SELECT {t} AS sel, vec_id, "
            "cast(cast(round(cast(cast((md) AS VARCHAR) AS DECIMAL(38,12)), 4) "
            f" AS VARCHAR) AS DOUBLE) AS dist FROM s{t}"
        )
        if t < KC_K:
            ctes.append(
                f"""d{t} AS (
      SELECT d.vec_id, d.vec,
             least(d.md, list_distance(d.vec, s.vec)) AS md
      FROM d{t - 1} d CROSS JOIN s{t} s WHERE d.vec_id <> s.vec_id
    )"""
            )
    return (
        "WITH ve AS (SELECT vec_id, embedding::DOUBLE[] AS vec "
        "FROM embeddings),\n    " + ",\n    ".join(ctes) + "\n    "
        + " UNION ALL ".join(sel)
    )


@query("q_sample_kcenter", oracle=_kcenter_sql())
def q_sample_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (farthest-point) coreset selection: start from
    the lowest-id vector, repeatedly add the point FARTHEST from the
    current exemplar set (2-approximation of the k-center optimum —
    Gonzalez 1985). The diversity-first selection used for coreset /
    prototype picking in data-pruning pipelines (cf. Sorscher et al.
    2022, arXiv:2206.14486): each pick's distance is the current
    coverage radius, so the emitted (sel, vec_id, dist) rows double as
    a coverage-decay curve.

    Determinism: the min-distance column updates by least(), every
    distance is the bit-matched euclidean pair, and each argmax breaks
    ties by vec_id — identical in both engines.

    Scale: the classic distributed pattern — the candidate set keeps
    ONE running min-distance column (updated by a broadcast of the
    single newest exemplar, a narrow map), and each pick is a
    TakeOrdered global argmax (per-partition heaps + driver merge of
    partition winners), never a global sort. K picks = K narrow
    passes; state is one double per row."""
    from spark_clustering_spark.functions.distance import euclidean
    from spark_clustering_spark.io import table

    ve = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("vec")
    )
    seed = ve.filter(F.col("vec_id") == KC_SEED_ID).select(
        F.col("vec").alias("svec")
    )
    out = [(1, KC_SEED_ID, 0.0)]
    d = (
        ve.filter(F.col("vec_id") != KC_SEED_ID)
        .crossJoin(F.broadcast(seed))
        .select("vec_id", "vec", euclidean(F.col("vec"), F.col("svec")).alias("md"))
    )
    for t in range(2, KC_K + 1):
        # the argmax is a TakeOrdered (per-partition heaps + driver
        # merge); its single row is then inlined as a literal so the
        # min-distance update is a pure projection — re-deriving the
        # exemplar from the DataFrame would recompute the whole chain
        prow = d.orderBy(F.desc("md"), F.asc("vec_id")).limit(1).collect()[0]
        out.append((t, prow["vec_id"], prow["md"]))
        if t < KC_K:
            pv = F.array(*[F.lit(x) for x in prow["vec"]])
            d = d.filter(F.col("vec_id") != prow["vec_id"]).select(
                "vec_id",
                "vec",
                F.least(F.col("md"), euclidean(F.col("vec"), pv)).alias("md"),
            )
    res = spark.createDataFrame(
        [(s, v, float(m)) for s, v, m in out],
        "sel INT, vec_id BIGINT, dist DOUBLE",
    )
    return res.select("sel", "vec_id", dround("dist").alias("dist"))


MMR_LAMBDA = 0.7   # relevance weight (penalty weight hardcoded 0.3 —
                   # NOT computed as 1-lambda, which differs in float)
MMR_K = 3          # results re-ranked out of the pool
MMR_POOL = 10      # relevance top-k pool per probe
MMR_PROBES = 3     # probe vectors


def _mmr_sql() -> str:
    parts = [
        "SELECT probe_id, 1 AS sel, cand_id, "
        "cast(cast(round(cast(cast((qc) AS VARCHAR) AS DECIMAL(38,12)), 4) "
        " AS VARCHAR) AS DOUBLE) AS score FROM s1"
    ]
    ctes = [
        f"""probes AS (
      SELECT vec_id AS probe_id, vec AS pvec FROM ve
      WHERE vec_id < {MMR_PROBES}
    ),
    scored AS (
      SELECT p.probe_id, v.vec_id AS cand_id, v.vec,
             list_cosine_similarity(p.pvec, v.vec) AS qc
      FROM probes p JOIN ve v ON v.vec_id <> p.probe_id
    ),
    pool AS (
      SELECT probe_id, cand_id, vec, qc FROM scored
      QUALIFY row_number() OVER (PARTITION BY probe_id
        ORDER BY qc DESC, cand_id) <= {MMR_POOL}
    ),
    cc AS (
      SELECT a.probe_id, a.cand_id AS ca, b.cand_id AS cb,
             list_cosine_similarity(a.vec, b.vec) AS s
      FROM pool a JOIN pool b
        ON a.probe_id = b.probe_id AND a.cand_id <> b.cand_id
    ),
    s1 AS (
      SELECT probe_id, cand_id, qc FROM pool
      QUALIFY row_number() OVER (PARTITION BY probe_id
        ORDER BY qc DESC, cand_id) = 1
    ),
    rem1 AS (
      SELECT p.probe_id, p.cand_id, p.qc, cc.s AS pen
      FROM pool p
      JOIN s1 ON s1.probe_id = p.probe_id
      JOIN cc ON cc.probe_id = p.probe_id AND cc.ca = p.cand_id
             AND cc.cb = s1.cand_id
      WHERE p.cand_id <> s1.cand_id
    )"""
    ]
    for t in range(2, MMR_K + 1):
        ctes.append(
            f"""s{t} AS (
      SELECT probe_id, cand_id,
             {MMR_LAMBDA} * qc - 0.3 * pen AS score, pen
      FROM rem{t - 1}
      QUALIFY row_number() OVER (PARTITION BY probe_id
        ORDER BY {MMR_LAMBDA} * qc - 0.3 * pen DESC, cand_id) = 1
    )"""
        )
        parts.append(
            f"SELECT probe_id, {t} AS sel, cand_id, "
            "cast(cast(round(cast(cast((score) AS VARCHAR) AS DECIMAL(38,12)), 4) "
            f" AS VARCHAR) AS DOUBLE) AS score FROM s{t}"
        )
        if t < MMR_K:
            ctes.append(
                f"""rem{t} AS (
      SELECT r.probe_id, r.cand_id, r.qc, greatest(r.pen, cc.s) AS pen
      FROM rem{t - 1} r
      JOIN s{t} ON s{t}.probe_id = r.probe_id
      JOIN cc ON cc.probe_id = r.probe_id AND cc.ca = r.cand_id
             AND cc.cb = s{t}.cand_id
      WHERE r.cand_id <> s{t}.cand_id
    )"""
            )
    return (
        "WITH ve AS (SELECT vec_id, embedding::DOUBLE[] AS vec "
        "FROM embeddings),\n    " + ",\n    ".join(ctes) + "\n    "
        + " UNION ALL ".join(parts)
    )


@query("q_sim_mmr", oracle=_mmr_sql())
def q_sim_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): from each probe's relevance top-{MMR_POOL} pool, greedily
    pick {MMR_K} results maximizing λ·cos(q,c) − (1−λ)·max_{{s∈S}}
    cos(c,s) — the diversity-aware retrieval post-processor that stops
    near-duplicate passages crowding a RAG context window. The first
    pick scores pure relevance; each later pick's redundancy penalty
    is maintained incrementally as a running max.

    Determinism: both weights are literal decimal constants (0.7 /
    0.3 — never 1−λ, which is not 0.3 in binary); scores are single
    double expressions over the bit-matched cosine pair; every argmax
    tie-breaks by cand_id.

    Scale: re-ranking is pool-local — the expensive stage is the ANN
    top-{MMR_POOL} (IVF/PQ paths above); MMR then touches only
    pool²·probes rows. The incremental penalty keeps each greedy step
    one join + one windowed argmax instead of re-scanning S."""
    from spark_clustering_spark.functions.distance import cosine
    from spark_clustering_spark.io import table

    ve = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("vec")
    )
    probes = ve.filter(F.col("vec_id") < MMR_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("vec").alias("pvec")
    )
    scored = (
        ve.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("cand_id"),
            "vec",
            cosine(F.col("pvec"), F.col("vec")).alias("qc"),
        )
    )
    w_rel = Window.partitionBy("probe_id").orderBy(
        F.col("qc").desc(), F.col("cand_id")
    )
    pool = (
        scored.withColumn("rn", F.row_number().over(w_rel))
        .filter(F.col("rn") <= MMR_POOL)
        .drop("rn")
    )
    # pool is consumed by cc (both sides), s1, and rem1 -- pin the
    # 30-row result instead of re-running the scoring pipeline 4x
    pool = pin(pool)
    a = pool.select("probe_id", F.col("cand_id").alias("ca"), F.col("vec").alias("va"))
    b = pool.select("probe_id", F.col("cand_id").alias("cb"), F.col("vec").alias("vb"))
    cc = (
        a.join(b, "probe_id")
        .filter(F.col("ca") != F.col("cb"))
        .select(
            F.col("probe_id").alias("cprobe"),
            "ca",
            "cb",
            cosine(F.col("va"), F.col("vb")).alias("s"),
        )
    )
    s1 = (
        pool.withColumn("rn", F.row_number().over(w_rel))
        .filter(F.col("rn") == 1)
        .select("probe_id", "cand_id", F.col("qc").alias("score"))
    )
    out = s1.select("probe_id", F.lit(1).alias("sel"), "cand_id", "score")
    rem = (
        pool.select("probe_id", "cand_id", "qc")
        .join(s1.select("probe_id", F.col("cand_id").alias("sc")), "probe_id")
        .filter(F.col("cand_id") != F.col("sc"))
        .join(
            cc,
            (F.col("cprobe") == F.col("probe_id"))
            & (F.col("ca") == F.col("cand_id"))
            & (F.col("cb") == F.col("sc")),
        )
        .select("probe_id", "cand_id", "qc", F.col("s").alias("pen"))
    )
    for t in range(2, MMR_K + 1):
        score = F.lit(MMR_LAMBDA) * F.col("qc") - F.lit(0.3) * F.col("pen")
        w_m = Window.partitionBy("probe_id").orderBy(score.desc(), F.col("cand_id"))
        st = (
            rem.withColumn("rn", F.row_number().over(w_m))
            .filter(F.col("rn") == 1)
            .select("probe_id", "cand_id", score.alias("score"))
        )
        out = out.unionByName(
            st.select("probe_id", F.lit(t).alias("sel"), "cand_id", "score")
        )
        if t < MMR_K:
            rem = (
                rem.join(
                    st.select("probe_id", F.col("cand_id").alias("sc")),
                    "probe_id",
                )
                .filter(F.col("cand_id") != F.col("sc"))
                .join(
                    cc,
                    (F.col("cprobe") == F.col("probe_id"))
                    & (F.col("ca") == F.col("cand_id"))
                    & (F.col("cb") == F.col("sc")),
                )
                .select(
                    "probe_id",
                    "cand_id",
                    "qc",
                    F.greatest(F.col("pen"), F.col("s")).alias("pen"),
                )
            )
    return out.select("probe_id", "sel", "cand_id", dround("score").alias("score"))


def semdedup_pairs_gemm(
    assign: DataFrame, threshold: float = SEM_TAU
) -> DataFrame:
    """Scale path for SemDeDup's within-cluster pair scan: one numpy
    float64 GEMM per cluster via applyInPandas (Arrow batches, BLAS
    dgemm — the same ``cosine_pairs`` kernel as the embedding near-dup
    paths), instead of the declared expression path's per-pair
    zip_with fold.

    Why it exists (measured, PERF.md "SemDeDup scale path"): at 16x
    corpus the expression path grows 35x wall (every pair pays a
    64-term codegen fold) while GEMM-backed scoring grows ~2x — BLAS
    turns the in-cluster n_k² dot products into a single matrix
    multiply. Clusters are bounded by design (nlist scales with corpus
    size), so each cluster's matrix fits one task; the within-task
    score matrix is computed in ``gemm_tile`` tiles (upper triangle
    only), so a skew-hot cluster degrades to more BLAS calls — never
    to a quadratic n_k² score allocation.

    ``assign``: (vec_id, vec array<double>, cid). Returns
    (keep_id, drop_id) candidate pairs with keep_id < drop_id —
    row-identical to the expression path (asserted in
    tests/test_scale.py)."""
    import numpy as np
    import pandas as pd

    def per_cluster(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        X = unit_rows(pdf["vec"])
        keep, drop, _ = cosine_pairs(ids, X, ids, X, threshold, diag=True)
        return pd.DataFrame({"keep_id": keep, "drop_id": drop})

    return assign.groupBy("cid").applyInPandas(
        per_cluster, "keep_id BIGINT, drop_id BIGINT"
    )


CB_PER_CLUSTER = 8  # exemplars drawn per embedding cluster


def _cluster_balanced_oracle() -> str:
    from spark_clustering_spark.functions.porthash import sql_hex_int

    return f"""
    WITH ve AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
    ),
    {_ivf_train_ctes(IVF_TRAIN_ITERS)},
    assign AS (
      SELECT v.vec_id, c.cid
      FROM ve v CROSS JOIN coarse c
      QUALIFY row_number() OVER (PARTITION BY v.vec_id
        ORDER BY list_distance(v.vec, c.cvec), c.cid) = 1
    ),
    hashed AS (
      SELECT vec_id, cid, md5('cb' || vec_id::VARCHAR) AS hx FROM assign
    ),
    ranked AS (
      SELECT vec_id, cid,
             row_number() OVER (PARTITION BY cid
               ORDER BY {sql_hex_int('hx')}, vec_id) AS pick
      FROM hashed
    )
    SELECT vec_id, cid::INT AS cid, pick::INT AS pick
    FROM ranked WHERE pick <= {CB_PER_CLUSTER}
    """


@query("q_sample_cluster_balanced", oracle=_cluster_balanced_oracle())
def q_sample_cluster_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced sampling: assign embeddings to the trained
    coarse clusters, then draw the SAME number of exemplars from each
    cluster by seeded portable-hash order — the diversity draw that
    counters density skew (a dominant mode can't crowd the sample the
    way a uniform draw lets it; cf. prototypicality-based pruning,
    Sorscher et al. 2022). Deterministic: membership is a pure
    function of (vec_id, trained centroids).

    Scale: assignment is the map-side-combined min-struct aggregate
    (n narrow rows shuffle at any nlist — ``ivf_assign``); the
    per-cluster pick is one hash-ordered window over (vec_id, cid,
    hash) rows — vectors never enter the window shuffle. Same
    per-group mechanics as q_sample_per_group, keyed by learned
    structure instead of metadata."""
    from spark_clustering_spark.functions.porthash import md5_int32
    from spark_clustering_spark.io import table

    ve = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("vec")
    )
    assign = ivf_assign(ve, table_ivf_train(spark, sf_dir)).select(
        "vec_id", F.col("cid").cast("bigint").alias("cid")
    )
    h = md5_int32(F.concat(F.lit("cb"), F.col("vec_id").cast("string")))
    w = Window.partitionBy("cid").orderBy(h.asc(), F.col("vec_id").asc())
    return (
        assign.withColumn("pick", F.row_number().over(w))
        .filter(F.col("pick") <= CB_PER_CLUSTER)
        .select("vec_id", F.col("cid").cast("int").alias("cid"), "pick")
    )


KNN_MOD = 8   # deterministic corpus subset: vec_id % KNN_MOD == 0
KNN_K = 5


@query(
    "q_vec_knn_graph",
    oracle=f"""
    WITH ve AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
      WHERE vec_id % {KNN_MOD} = 0
    ),
    unn AS (
      SELECT vec_id, unnest(vec) AS v, generate_subscripts(vec, 1) AS pos
      FROM ve
    ),
    norms AS (
      SELECT vec_id,
             sqrt(cast(cast(sum((CASE WHEN abs(v * v) < 5e-9 THEN cast(0 AS DECIMAL(38,8)) ELSE cast(cast(v * v AS VARCHAR) AS DECIMAL(38,8)) END)) AS VARCHAR) AS DOUBLE)) AS nrm
      FROM unn GROUP BY vec_id
    ),
    dots AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             cast(cast(sum((CASE WHEN abs(a.v * b.v) < 5e-9 THEN cast(0 AS DECIMAL(38,8)) ELSE cast(cast(a.v * b.v AS VARCHAR) AS DECIMAL(38,8)) END)) AS VARCHAR) AS DOUBLE) AS dot
      FROM unn a JOIN unn b ON a.pos = b.pos AND a.vec_id <> b.vec_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.src, d.dst, d.dot / (na.nrm * nb.nrm) AS cos
      FROM dots d
      JOIN norms na ON na.vec_id = d.src
      JOIN norms nb ON nb.vec_id = d.dst
    ),
    topk AS (
      SELECT src, dst, cos,
             row_number() OVER (PARTITION BY src
                                ORDER BY cos DESC, dst) AS rn
      FROM scored QUALIFY rn <= {KNN_K}
    )
    SELECT t1.src AS id_a, t1.dst AS id_b,
           cast(cast(round(cast(cast((t1.cos) AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS cos,
           t1.rn::INT AS rank_ab, t2.rn::INT AS rank_ba
    FROM topk t1 JOIN topk t2 ON t2.src = t1.dst AND t2.dst = t1.src
    WHERE t1.src < t1.dst
    """,
)
def q_vec_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL k-nearest-neighbour graph over a deterministic corpus
    subset (vec_id ≡ 0 mod {KNN_MOD}): an undirected edge (a, b)
    survives iff b is in a's cosine top-{KNN_K} AND a is in b's. The
    mutuality filter is what makes kNN graphs usable downstream —
    one-directional edges from hub vectors are exactly the noise that
    wrecks graph-based clustering (HDBSCAN-style) and SemDeDup-like
    community detection; the mutual graph is the standard input to
    both.

    Against q_sim_topk_cosine (probe→corpus retrieval): this is
    corpus→corpus graph CONSTRUCTION, with the symmetric-rank join on
    top — a different downstream contract (edges, not hit lists).

    Determinism: exact-decimal dot products (order-proof), ranking on
    identical doubles with dst tie-break, both ranks emitted.

    Scale: top-k generation is ``knn_topk_gemm_exact`` — a blocked
    cogroup float-GEMM prefilter (no broadcast of either table; r6
    verdict task 1 retired the corpus-sized ``F.broadcast``, and the
    r7 swap retired the per-pair interpreted decimal fold: 67 s → 5 s
    at sf1, proven bit-identical at every scale in
    tests/test_gemm_exact.py) whose ≈k survivors per src are re-ranked
    with the SAME exact-decimal expression. The exact all-pairs subset
    is still quadratic by definition, so production at 100 TB swaps
    candidate generation to the LSH buckets / IVF routing already in
    this module (cosine_lsh_buckets, ivf_assign) and keeps the SAME
    mutual-join tail — the top-k windows partition by src (never
    global), and the mutual join is an equi self-join on
    (src, dst) ↔ (dst, src)."""
    e = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % KNN_MOD == 0)
        .select("vec_id", as_double_array("embedding").alias("vec"))
    )
    # dot/norm as per-row exact-decimal codegen folds (dot_dec) — the
    # same values the exploded sum(cast(v*v AS DECIMAL)) produces, but
    # the n^2 pair stream never shuffles dimension-cardinality rows
    # (the explode+groupBy form measured 9.8 s vs ~2 s at sf0.1)
    n = e.select(
        "vec_id",
        "vec",
        F.sqrt(dot_dec(F.col("vec"), F.col("vec")).cast("double")).alias("nrm"),
    )
    a = n.select(
        F.col("vec_id").alias("src"), F.col("vec").alias("va"), F.col("nrm").alias("na")
    )
    b = n.select(
        F.col("vec_id").alias("dst"), F.col("vec").alias("vb"), F.col("nrm").alias("nb")
    )
    topk = knn_topk_gemm_exact(a, b, KNN_K)
    t2 = topk.select(
        F.col("src").alias("dst"),
        F.col("dst").alias("src"),
        F.col("rn").alias("rank_ba"),
    )
    return (
        topk.join(t2, ["src", "dst"])
        .filter(F.col("src") < F.col("dst"))
        .select(
            F.col("src").alias("id_a"),
            F.col("dst").alias("id_b"),
            dround("cos").alias("cos"),
            F.col("rn").cast("int").alias("rank_ab"),
            F.col("rank_ba").cast("int").alias("rank_ba"),
        )
    )


@query(
    "q_sim_ivf_recall",
    oracle=f"""
    WITH ve AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
    ),
    {_ivf_train_ctes(IVF_TRAIN_ITERS)},
    lists AS (
      SELECT v.vec_id, v.vec, c.cid AS list_id
      FROM ve v CROSS JOIN coarse c
      QUALIFY row_number() OVER (PARTITION BY v.vec_id
        ORDER BY list_distance(v.vec, c.cvec), c.cid) = 1
    ),
    probes AS (
      SELECT vec_id AS probe_id, vec AS pvec FROM ve
      WHERE vec_id < {N_PROBES}
    ),
    probe_lists AS (
      SELECT p.probe_id, c.cid AS list_id
      FROM probes p CROSS JOIN coarse c
      QUALIFY row_number() OVER (PARTITION BY p.probe_id
        ORDER BY list_distance(p.pvec, c.cvec), c.cid) <= {IVF_NPROBE}
    ),
    ivf AS (
      SELECT probe_id, cand_id FROM (
        SELECT pl.probe_id, l.vec_id AS cand_id,
               row_number() OVER (PARTITION BY pl.probe_id
                 ORDER BY list_cosine_similarity(p.pvec, l.vec) DESC,
                          l.vec_id) AS rn
        FROM probe_lists pl
        JOIN lists l ON l.list_id = pl.list_id
        JOIN probes p ON p.probe_id = pl.probe_id
        WHERE l.vec_id <> pl.probe_id) t
      WHERE rn <= {TOP_K}
    ),
    brute AS (
      SELECT probe_id, cand_id FROM (
        SELECT p.probe_id, v.vec_id AS cand_id,
               row_number() OVER (PARTITION BY p.probe_id
                 ORDER BY list_cosine_similarity(p.pvec, v.vec) DESC,
                          v.vec_id) AS rn
        FROM probes p JOIN ve v ON v.vec_id <> p.probe_id) t
      WHERE rn <= {TOP_K}
    )
    SELECT b.probe_id,
           cast(count(i.cand_id) AS BIGINT) AS n_hits,
           cast(cast(count(i.cand_id) AS DOUBLE) / {TOP_K} AS DOUBLE)
             AS recall
    FROM brute b
    LEFT JOIN ivf i ON i.probe_id = b.probe_id AND i.cand_id = b.cand_id
    GROUP BY b.probe_id
    """,
)
def q_sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} audit of the IVF index against exact brute-force
    search, per probe — the measurement every ANN deployment runs
    before trusting the index: recall = |IVF top-k ∩ exact top-k| / k.
    Declared as a first-class query (not just a tool) because at
    100 TB the audit itself must be distributed: the brute-force side
    is the expensive ground truth you run on a sampled probe set, the
    IVF side is the production path, and the join that scores them is
    tiny (probes × k rows).

    Determinism: both rankings order by the same float cosine with
    cand_id tie-break — identical expression trees on identical
    doubles in both engines (the established envelope of
    q_sim_topk_ivf / q_sim_topk_cosine); the recall ratio is an exact
    small-integer division.

    Scale: reuses ivf_train / ivf_topk (broadcast quantizer, inverted-
    list routing) and the broadcast-probe brute force; the final
    set-intersection groupBy touches probes·k rows. Sampling more
    probes scales linearly; nothing new shuffles."""
    ve = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("vec")
    )
    probes = ve.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("vec").alias("pvec")
    )
    ivf = ivf_topk(
        ve, table_ivf_train(spark, sf_dir), probes, nprobe=IVF_NPROBE, k=TOP_K
    ).select(
        "probe_id", "cand_id"
    )
    brute = cosine_topk_fast(
        ve,
        probes.select(
            F.col("probe_id").alias("vec_id"), F.col("pvec").alias("vec")
        ),
        k=TOP_K,
    ).select("probe_id", "cand_id")
    # left join on (probe_id, cand_id): count matches per probe
    j = brute.join(
        ivf.select(
            F.col("probe_id").alias("probe_id"),
            F.col("cand_id").alias("cand_id"),
            F.lit(1).alias("_hit"),
        ),
        ["probe_id", "cand_id"],
        "left",
    )
    return j.groupBy("probe_id").agg(
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("bigint").alias("n_hits"),
        (
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("double")
            / F.lit(float(TOP_K))
        ).alias("recall"),
    )


def knn_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-probe kNN majority vote — the data plane of
    q_ml_knn_classify, exposed separately so the sf1 closure check
    (tools/knn_sf1_check.py) can row-verify predictions for a
    deterministic probe sample against an oracle that would be
    O(n²·d)-infeasible over the full subset. Returns one row per
    subset vector: (src, true_label, lbl = predicted label). Since the
    r7 GEMM swap a downstream src filter no longer prunes the pair
    stream (filters don't push through the Arrow kernels) — it doesn't
    need to: the full GEMM pass is seconds at sf1."""
    ve = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double_array("embedding").alias("vec")
    )
    n = ve.select(
        "vec_id",
        "label",
        "vec",
        F.sqrt(dot_dec(F.col("vec"), F.col("vec")).cast("double")).alias(
            "nrm"
        ),
    )
    sub = n.filter(F.col("vec_id") % KNN_MOD == 0).select(
        F.col("vec_id").alias("src"),
        F.col("label").alias("true_label"),
        F.col("vec").alias("va"),
        F.col("nrm").alias("na"),
    )
    corpus = n.select(
        F.col("vec_id").alias("dst"),
        F.col("label").alias("lbl"),
        F.col("vec").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    topk = (
        knn_topk_gemm_exact(
            sub.select("src", "va", "na"),
            corpus.select("dst", "vb", "nb"),
            KNN_K,
        )
        .hint("merge")
        .join(sub.select("src", "true_label"), "src")
        .join(corpus.select("dst", "lbl").hint("merge"), "dst")
        .select("src", "true_label", "lbl", "rn")
    )
    votes = topk.groupBy("src", "true_label", "lbl").agg(
        F.count(F.lit(1)).alias("nv")
    )
    wv = Window.partitionBy("src").orderBy(
        F.col("nv").desc(), F.col("lbl")
    )
    return votes.select(
        "src", "true_label", "lbl", F.row_number().over(wv).alias("pr")
    ).filter(F.col("pr") == 1)


@query(
    "q_ml_knn_classify",
    oracle=f"""
    WITH ve AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings
    ),
    unn_all AS (
      SELECT vec_id, unnest(vec) AS v, generate_subscripts(vec, 1) AS pos
      FROM ve
    ),
    unn_sub AS (
      SELECT vec_id, v, pos FROM unn_all WHERE vec_id % {KNN_MOD} = 0
    ),
    norms AS (
      SELECT vec_id,
             sqrt(cast(cast(sum((CASE WHEN abs(v * v) < 5e-9 THEN cast(0 AS DECIMAL(38,8)) ELSE cast(cast(v * v AS VARCHAR) AS DECIMAL(38,8)) END)) AS VARCHAR) AS DOUBLE)) AS nrm
      FROM unn_all GROUP BY vec_id
    ),
    dots AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             cast(cast(sum((CASE WHEN abs(a.v * b.v) < 5e-9 THEN cast(0 AS DECIMAL(38,8)) ELSE cast(cast(a.v * b.v AS VARCHAR) AS DECIMAL(38,8)) END)) AS VARCHAR) AS DOUBLE) AS dot
      FROM unn_sub a JOIN unn_all b
        ON a.pos = b.pos AND a.vec_id <> b.vec_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.src, d.dst, d.dot / (na.nrm * nb.nrm) AS cos
      FROM dots d
      JOIN norms na ON na.vec_id = d.src
      JOIN norms nb ON nb.vec_id = d.dst
    ),
    topk AS (
      SELECT src, dst,
             row_number() OVER (PARTITION BY src
                                ORDER BY cos DESC, dst) AS rn
      FROM scored QUALIFY rn <= {KNN_K}
    ),
    votes AS (
      SELECT t.src, v.label AS lbl, count(*) AS nv
      FROM topk t JOIN ve v ON v.vec_id = t.dst
      GROUP BY 1, 2
    ),
    pred AS (
      SELECT src, lbl,
             row_number() OVER (PARTITION BY src
                                ORDER BY nv DESC, lbl) AS pr
      FROM votes QUALIFY pr = 1
    )
    SELECT v.label AS label,
           count(*)::BIGINT AS n_vecs,
           sum(CASE WHEN p.lbl = v.label THEN 1 ELSE 0 END)::BIGINT
             AS n_correct,
           cast(cast(round(cast(
             sum(CASE WHEN p.lbl = v.label THEN 1 ELSE 0 END)
               / cast(count(*) AS DOUBLE)
             AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS accuracy
    FROM pred p JOIN ve v ON v.vec_id = p.src
    GROUP BY v.label
    """,
)
def q_ml_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out k-NN classification accuracy per class: every
    subset vector (vec_id ≡ 0 mod {KNN_MOD}) is classified by the
    majority label of its {KNN_K} nearest neighbours in the FULL
    corpus (self excluded), and the query reports per-true-label
    n / n_correct / accuracy — the standard embedding-quality probe
    (is the label structure recoverable from the metric?) that
    complements q_sim_ivf_recall's index-quality probe.

    Determinism: exact-decimal dot products; neighbour ranking
    tie-breaks on dst, the vote argmax on (votes DESC, label ASC);
    accuracy is exact integers through ONE double division.

    Scale: neighbour generation is ``knn_topk_gemm_exact`` — blocked
    cogroup float-GEMM prefilter + exact-decimal re-rank of the ≈k
    survivors per src, no data-sized broadcast (r6 verdict task 1
    retired the corpus broadcast; the r7 swap retired the all-pairs
    interpreted decimal fold — 12.7× at sf1, bit-identical by
    tests/test_gemm_exact.py). Exact leave-one-out stays quadratic by
    definition; at 100 TB candidate generation swaps to the IVF/LSH
    routing in this module and the vote tail is unchanged. The vote
    and accuracy aggregates reduce to |labels|-bounded rows with
    map-side combine."""
    pred = knn_predictions(spark, sf_dir)
    return pred.groupBy(F.col("true_label").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum(F.when(F.col("lbl") == F.col("true_label"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_correct"),
        dround(
            F.sum(
                F.when(F.col("lbl") == F.col("true_label"), 1).otherwise(0)
            )
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("accuracy"),
    )


TRUNC_DIM = 16  # Matryoshka truncation audit: keep the first 16 dims


@query(
    "q_sim_truncation_recall",
    oracle=f"""
    WITH ve AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
    ),
    unn AS (
      SELECT vec_id, unnest(vec) AS v, generate_subscripts(vec, 1) AS pos
      FROM ve
    ),
    norms AS (
      SELECT vec_id,
             sqrt(cast(cast(sum((CASE WHEN abs(v * v) < 5e-9 THEN cast(0 AS DECIMAL(38,8)) ELSE cast(cast(v * v AS VARCHAR) AS DECIMAL(38,8)) END)) AS VARCHAR) AS DOUBLE)) AS nrm,
             sqrt(cast(cast(sum(cast(CASE WHEN pos <= {TRUNC_DIM}
                                     THEN v * v ELSE 0 END
                  AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)) AS nrm_t
      FROM unn GROUP BY vec_id
    ),
    dots AS (
      SELECT a.vec_id AS probe_id, b.vec_id AS cand_id,
             cast(cast(sum((CASE WHEN abs(a.v * b.v) < 5e-9 THEN cast(0 AS DECIMAL(38,8)) ELSE cast(cast(a.v * b.v AS VARCHAR) AS DECIMAL(38,8)) END)) AS VARCHAR) AS DOUBLE) AS dot,
             cast(cast(sum(cast(CASE WHEN a.pos <= {TRUNC_DIM}
                                THEN a.v * b.v ELSE 0 END
                  AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS dot_t
      FROM unn a JOIN unn b ON a.pos = b.pos
      WHERE a.vec_id < {N_PROBES} AND b.vec_id <> a.vec_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.probe_id, d.cand_id,
             d.dot / (na.nrm * nb.nrm) AS cos,
             d.dot_t / (na.nrm_t * nb.nrm_t) AS cos_t
      FROM dots d
      JOIN norms na ON na.vec_id = d.probe_id
      JOIN norms nb ON nb.vec_id = d.cand_id
    ),
    full_k AS (
      SELECT probe_id, cand_id,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY cos DESC, cand_id) AS rn
      FROM scored QUALIFY rn <= {TOP_K}
    ),
    trunc_k AS (
      SELECT probe_id, cand_id,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY cos_t DESC, cand_id) AS rn
      FROM scored QUALIFY rn <= {TOP_K}
    )
    SELECT f.probe_id,
           count(t.cand_id)::BIGINT AS n_hits,
           cast(cast(round(cast(
             count(t.cand_id) / {TOP_K}.0
             AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS recall
    FROM full_k f
    LEFT JOIN trunc_k t
      ON t.probe_id = f.probe_id AND t.cand_id = f.cand_id
    GROUP BY f.probe_id
    """,
)
def q_sim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit: recall@{TOP_K} of cosine search on
    the FIRST {TRUNC_DIM} dims against full-{64}-dim ground truth, per
    probe — the measure-before-you-truncate check every
    embedding-storage downsize runs (MRL-style truncation keeps
    prefix dims; if recall holds, the index shrinks 4× for free, the
    same trade q_sim_pq_adc_topk makes with codes).

    Determinism: both scores are exact-decimal dots through one
    double division; both rankings tie-break on cand_id; recall is an
    integer count over {TOP_K}.

    Scale: probe-side bounded, corpus broadcast — identical shape to
    q_sim_topk_cosine, computing BOTH scores in the same pair pass
    (the truncated dot is a prefix slice, not a second scan); per-probe
    top-k windows partition by probe."""
    ve = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("vec")
    )
    n = ve.select(
        "vec_id",
        "vec",
        F.sqrt(dot_dec(F.col("vec"), F.col("vec")).cast("double")).alias(
            "nrm"
        ),
        F.sqrt(
            dot_dec(
                F.slice(F.col("vec"), 1, TRUNC_DIM),
                F.slice(F.col("vec"), 1, TRUNC_DIM),
            ).cast("double")
        ).alias("nrm_t"),
    )
    probes = n.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("vec").alias("pv"),
        F.col("nrm").alias("pn"),
        F.col("nrm_t").alias("pn_t"),
    )
    corpus = n.select(
        F.col("vec_id").alias("cand_id"),
        F.col("vec").alias("cv"),
        F.col("nrm").alias("cn"),
        F.col("nrm_t").alias("cn_t"),
    )
    width = shuffle_width(spark)
    scored = (
        corpus.repartition(width)
        .crossJoin(F.broadcast(probes))
        .filter(F.col("cand_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "cand_id",
            (
                dot_dec(F.col("pv"), F.col("cv")).cast("double")
                / (F.col("pn") * F.col("cn"))
            ).alias("cos"),
            (
                dot_dec(
                    F.slice(F.col("pv"), 1, TRUNC_DIM),
                    F.slice(F.col("cv"), 1, TRUNC_DIM),
                ).cast("double")
                / (F.col("pn_t") * F.col("cn_t"))
            ).alias("cos_t"),
        )
    )
    wf = Window.partitionBy("probe_id").orderBy(
        F.col("cos").desc(), F.col("cand_id")
    )
    wt = Window.partitionBy("probe_id").orderBy(
        F.col("cos_t").desc(), F.col("cand_id")
    )
    full_k = scored.select(
        "probe_id", "cand_id", F.row_number().over(wf).alias("rn")
    ).filter(F.col("rn") <= TOP_K)
    trunc_k = scored.select(
        "probe_id",
        "cand_id",
        F.row_number().over(wt).alias("rn"),
    ).filter(F.col("rn") <= TOP_K)
    joined = full_k.alias("f").join(
        trunc_k.alias("t"),
        (F.col("f.probe_id") == F.col("t.probe_id"))
        & (F.col("f.cand_id") == F.col("t.cand_id")),
        "left",
    )
    return joined.groupBy(F.col("f.probe_id").alias("probe_id")).agg(
        F.count(F.col("t.cand_id")).cast("bigint").alias("n_hits"),
        dround(
            F.count(F.col("t.cand_id")) / float(TOP_K), 4
        ).alias("recall"),
    )


@query(
    "q_ml_ncm_classify",
    oracle="""
    WITH ve AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings
    ),
    unn AS (
      SELECT vec_id, label, unnest(vec) AS v,
             generate_subscripts(vec, 1) AS pos
      FROM ve
    ),
    mu AS (
      SELECT label AS cid, pos,
             cast(cast(sum(cast(v AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) / count(*) AS m
      FROM unn GROUP BY label, pos
    ),
    d2 AS (
      SELECT u.vec_id, u.label, mu.cid,
             cast(cast(sum(cast((u.v - mu.m) * (u.v - mu.m) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS dist2
      FROM unn u JOIN mu ON mu.pos = u.pos
      GROUP BY u.vec_id, u.label, mu.cid
    ),
    pred AS (
      SELECT vec_id, label, cid,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dist2, cid) AS rn
      FROM d2 QUALIFY rn = 1
    )
    SELECT label,
           count(*)::BIGINT AS n_vecs,
           sum(CASE WHEN cid = label THEN 1 ELSE 0 END)::BIGINT AS n_correct,
           cast(cast(round(cast(
             sum(CASE WHEN cid = label THEN 1 ELSE 0 END)
               / cast(count(*) AS DOUBLE)
             AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS accuracy
    FROM pred GROUP BY label
    """,
)
def q_ml_ncm_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-class-mean classification accuracy per label: compute
    each label's centroid (per-dim decimal-exact means), assign every
    vector to its nearest centroid, report per-true-label accuracy —
    the LINEAR prototype probe beside q_ml_knn_classify's local one
    (NCM ≫ kNN gap = clusters are non-convex; NCM ≈ kNN = labels are
    linearly recoverable and the cheap classifier suffices). This is
    also exactly the reference's assignment kernel (R4) with label
    means as the centroid table.

    Determinism: per-dim means are exact decimal sums through one
    double division; squared distances re-quantize per-dim terms to
    decimal before the cross-dim sum; the argmin tie-breaks on label.

    Scale: the label-centroid table is |labels|·d rows (broadcast
    state); assignment is the R4 broadcast-argmin shape — one narrow
    pass, no window over data, map-side-combined accuracy rollup.
    (The declared form uses the exploded pos-join so the oracle can
    replay the identical decimal sums; the kernel twin is
    ml/kernels.lloyd_partials.)"""
    ve = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double_array("embedding").alias("vec")
    )
    unn = ve.select(
        "vec_id", "label", F.posexplode("vec").alias("pos0", "v")
    ).select("vec_id", "label", (F.col("pos0") + 1).alias("pos"), "v")
    mu = unn.groupBy(F.col("label").alias("cid"), "pos").agg(
        (
            F.sum(F.col("v").cast("decimal(38,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m")
    )
    d2 = (
        unn.join(F.broadcast(mu), "pos")
        .select(
            "vec_id",
            "label",
            "cid",
            ((F.col("v") - F.col("m")) * (F.col("v") - F.col("m"))).cast(
                "decimal(38,12)"
            ).alias("t"),
        )
        .groupBy("vec_id", "label", "cid")
        .agg(F.sum("t").cast("double").alias("dist2"))
    )
    w = Window.partitionBy("vec_id").orderBy("dist2", "cid")
    pred = d2.select(
        "vec_id", "label", "cid", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") == 1)
    return pred.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum(F.when(F.col("cid") == F.col("label"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_correct"),
        dround(
            F.sum(F.when(F.col("cid") == F.col("label"), 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("accuracy"),
    )


@query(
    "q_vec_norm_profile",
    oracle="""
    WITH ve AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings
    ),
    unn AS (
      SELECT vec_id, label, unnest(vec) AS v FROM ve
    ),
    n AS (
      SELECT vec_id, label,
             sqrt(cast(cast(sum((CASE WHEN abs(v * v) < 5e-9 THEN cast(0 AS DECIMAL(38,8)) ELSE cast(cast(v * v AS VARCHAR) AS DECIMAL(38,8)) END)) AS VARCHAR) AS DOUBLE))
               AS nrm,
             cast(cast(sum((CASE WHEN abs(v) < 5e-9 THEN cast(0 AS DECIMAL(38,8)) ELSE cast(cast(v AS VARCHAR) AS DECIMAL(38,8)) END)) AS VARCHAR) AS DOUBLE) AS sv
      FROM unn GROUP BY vec_id, label
    )
    SELECT label,
           count(*)::BIGINT AS n_vecs,
           cast(cast(round(cast(cast(
             sum(cast(nrm AS DECIMAL(38,12))) AS DOUBLE) / count(*)
             AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS mean_norm,
           cast(cast(round(cast(cast((
             sqrt(greatest(
               cast(sum(cast(nrm * nrm AS DECIMAL(38,12))) AS DOUBLE)
                 / count(*)
               - (cast(sum(cast(nrm AS DECIMAL(38,12))) AS DOUBLE)
                  / count(*))
                 * (cast(sum(cast(nrm AS DECIMAL(38,12))) AS DOUBLE)
                    / count(*)),
               0.0))
             ) AS VARCHAR) AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS std_norm,
           cast(cast(round(cast(cast(
             sum(cast(sv AS DECIMAL(38,12))) AS DOUBLE) / count(*)
             AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS mean_coord_sum
    FROM n GROUP BY label
    """,
)
def q_vec_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-health profile per label: mean and std of L2 norms
    plus the mean coordinate sum (a cheap anisotropy proxy — a healthy
    isotropic embedding has coordinate sums near 0; a collapsed or
    un-centered one drifts) — the monitoring probe run on every new
    embedding snapshot BEFORE ANN indexes are rebuilt on it
    (norm collapse silently destroys cosine ranking quality).

    Determinism: per-vector norm and coordinate sum are exact-decimal
    folds cast once to double; cross-vector moments re-quantize to
    decimal before the order-ambiguous sums; std is one
    fixed-order expression with a greatest(·,0) guard against
    negative-zero variance.

    Scale: one narrow pass to per-vector scalars (no explode crosses
    an exchange — the fold is per-row codegen in the declared Spark
    form), then a |labels|-row map-side-combined aggregate."""
    ve = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double_array("embedding").alias("vec")
    )
    n = ve.select(
        "label",
        F.sqrt(dot_dec(F.col("vec"), F.col("vec")).cast("double")).alias(
            "nrm"
        ),
        F.aggregate(
            F.col("vec"),
            # (28,8) not (38,8): a (38,8)+(38,8) add overflows Spark's
            # 38-digit cap and rounds each step to scale 7 (see dot_dec)
            F.lit(0).cast("decimal(28,8)"),
            lambda acc, x: (acc + x.cast("decimal(28,8)")).cast("decimal(28,8)"),
        )
        .cast("double")
        .alias("sv"),
    )
    g = n.groupBy("label").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("nrm").cast("decimal(38,12)")).cast("double").alias("s1"),
        F.sum((F.col("nrm") * F.col("nrm")).cast("decimal(38,12)"))
        .cast("double")
        .alias("s2"),
        F.sum(F.col("sv").cast("decimal(38,12)")).cast("double").alias("sc"),
    )
    cnt = F.col("cnt")
    mean = F.col("s1") / cnt
    var = F.greatest(F.col("s2") / cnt - mean * mean, F.lit(0.0))
    return g.select(
        "label",
        cnt.cast("bigint").alias("n_vecs"),
        dround(mean, 6).alias("mean_norm"),
        dround(F.sqrt(var), 6).alias("std_norm"),
        dround(F.col("sc") / cnt, 6).alias("mean_coord_sum"),
    )


RRF_K = 60       # the standard RRF damping constant
RRF_OUT = 5      # fused results per probe


@query(
    "q_sim_rrf_fusion",
    oracle=f"""
    WITH ve AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
    ),
    unn AS (
      SELECT vec_id, unnest(vec) AS v, generate_subscripts(vec, 1) AS pos
      FROM ve
    ),
    norms AS (
      SELECT vec_id,
             sqrt(cast(cast(sum((CASE WHEN abs(v * v) < 5e-9 THEN cast(0 AS DECIMAL(38,8)) ELSE cast(cast(v * v AS VARCHAR) AS DECIMAL(38,8)) END)) AS VARCHAR) AS DOUBLE)) AS nrm,
             sqrt(cast(cast(sum(cast(CASE WHEN pos <= {TRUNC_DIM}
                                     THEN v * v ELSE 0 END
                  AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)) AS nrm_t
      FROM unn GROUP BY vec_id
    ),
    dots AS (
      SELECT a.vec_id AS probe_id, b.vec_id AS cand_id,
             cast(cast(sum((CASE WHEN abs(a.v * b.v) < 5e-9 THEN cast(0 AS DECIMAL(38,8)) ELSE cast(cast(a.v * b.v AS VARCHAR) AS DECIMAL(38,8)) END)) AS VARCHAR) AS DOUBLE) AS dot,
             cast(cast(sum(cast(CASE WHEN a.pos <= {TRUNC_DIM}
                                THEN a.v * b.v ELSE 0 END
                  AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS dot_t
      FROM unn a JOIN unn b ON a.pos = b.pos
      WHERE a.vec_id < {N_PROBES} AND b.vec_id <> a.vec_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.probe_id, d.cand_id,
             d.dot / (na.nrm * nb.nrm) AS cos,
             d.dot_t / (na.nrm_t * nb.nrm_t) AS cos_t
      FROM dots d
      JOIN norms na ON na.vec_id = d.probe_id
      JOIN norms nb ON nb.vec_id = d.cand_id
    ),
    full_k AS (
      SELECT probe_id, cand_id,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY cos DESC, cand_id) AS rn
      FROM scored QUALIFY rn <= {TOP_K}
    ),
    trunc_k AS (
      SELECT probe_id, cand_id,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY cos_t DESC, cand_id) AS rn
      FROM scored QUALIFY rn <= {TOP_K}
    ),
    fused AS (
      SELECT coalesce(f.probe_id, t.probe_id) AS probe_id,
             coalesce(f.cand_id, t.cand_id) AS cand_id,
             coalesce(1.0 / ({RRF_K} + f.rn), 0.0)
               + coalesce(1.0 / ({RRF_K} + t.rn), 0.0) AS rrf
      FROM full_k f FULL OUTER JOIN trunc_k t
        ON t.probe_id = f.probe_id AND t.cand_id = f.cand_id
    ),
    ranked AS (
      SELECT probe_id, cand_id, rrf,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY rrf DESC, cand_id) AS rank
      FROM fused QUALIFY rank <= {RRF_OUT}
    )
    SELECT probe_id, cand_id, rank::INT AS rank,
           cast(cast(round(cast(cast((rrf) AS VARCHAR) AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS rrf
    FROM ranked
    """,
)
def q_sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrievers over the same probes:
    the full-{64}-dim cosine top-{TOP_K} and the truncated
    first-{TRUNC_DIM}-dim top-{TOP_K} fuse by
    RRF = Σ_lists 1/({RRF_K}+rank), top-{RRF_OUT} per probe — the
    standard zero-tuning list-fusion used to combine lexical+vector
    (or here cheap+expensive) retrievers; candidates missing from one
    list contribute 0 from it.

    Determinism: ranks are exact integers; each RRF term is ONE
    double division of exact integers, summed in fixed full+truncated
    order; both rankings and the fused ranking tie-break on cand_id.

    Scale: both scores come out of the SAME pair pass
    (q_sim_truncation_recall's shape — the truncated dot is a prefix
    slice, not a second scan); the fusion is a per-probe-bounded
    full-outer join of two k-row lists."""
    ve = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("vec")
    )
    n = ve.select(
        "vec_id",
        "vec",
        F.sqrt(dot_dec(F.col("vec"), F.col("vec")).cast("double")).alias(
            "nrm"
        ),
        F.sqrt(
            dot_dec(
                F.slice(F.col("vec"), 1, TRUNC_DIM),
                F.slice(F.col("vec"), 1, TRUNC_DIM),
            ).cast("double")
        ).alias("nrm_t"),
    )
    probes = n.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("vec").alias("pv"),
        F.col("nrm").alias("pn"),
        F.col("nrm_t").alias("pn_t"),
    )
    corpus = n.select(
        F.col("vec_id").alias("cand_id"),
        F.col("vec").alias("cv"),
        F.col("nrm").alias("cn"),
        F.col("nrm_t").alias("cn_t"),
    )
    width = shuffle_width(spark)
    scored = (
        corpus.repartition(width)
        .crossJoin(F.broadcast(probes))
        .filter(F.col("cand_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "cand_id",
            (
                dot_dec(F.col("pv"), F.col("cv")).cast("double")
                / (F.col("pn") * F.col("cn"))
            ).alias("cos"),
            (
                dot_dec(
                    F.slice(F.col("pv"), 1, TRUNC_DIM),
                    F.slice(F.col("cv"), 1, TRUNC_DIM),
                ).cast("double")
                / (F.col("pn_t") * F.col("cn_t"))
            ).alias("cos_t"),
        )
    )
    wf = Window.partitionBy("probe_id").orderBy(
        F.col("cos").desc(), F.col("cand_id")
    )
    wt = Window.partitionBy("probe_id").orderBy(
        F.col("cos_t").desc(), F.col("cand_id")
    )
    full_k = scored.select(
        "probe_id", "cand_id", F.row_number().over(wf).alias("rn_f")
    ).filter(F.col("rn_f") <= TOP_K)
    trunc_k = scored.select(
        F.col("probe_id").alias("probe_id_t"),
        F.col("cand_id").alias("cand_id_t"),
        F.row_number().over(wt).alias("rn_t"),
    ).filter(F.col("rn_t") <= TOP_K)
    fused = full_k.join(
        trunc_k,
        (F.col("probe_id") == F.col("probe_id_t"))
        & (F.col("cand_id") == F.col("cand_id_t")),
        "full_outer",
    ).select(
        F.coalesce(F.col("probe_id"), F.col("probe_id_t")).alias(
            "probe_id"
        ),
        F.coalesce(F.col("cand_id"), F.col("cand_id_t")).alias("cand_id"),
        (
            F.coalesce(1.0 / (RRF_K + F.col("rn_f")), F.lit(0.0))
            + F.coalesce(1.0 / (RRF_K + F.col("rn_t")), F.lit(0.0))
        ).alias("rrf_raw"),
    )
    wr = Window.partitionBy("probe_id").orderBy(
        F.col("rrf_raw").desc(), F.col("cand_id")
    )
    return (
        fused.select(
            "probe_id",
            "cand_id",
            "rrf_raw",
            F.row_number().over(wr).alias("rank"),
        )
        .filter(F.col("rank") <= RRF_OUT)
        .select(
            "probe_id",
            "cand_id",
            F.col("rank").cast("int").alias("rank"),
            dround("rrf_raw", 6).alias("rrf"),
        )
    )


HN_LO, HN_HI = 6, 15  # hard-negative band: just past the easy top-5


@query(
    "q_sim_hard_negatives",
    oracle=f"""
    WITH ve AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings
    ),
    unn AS (
      SELECT vec_id, unnest(vec) AS v, generate_subscripts(vec, 1) AS pos FROM ve
    ),
    norms AS (
      SELECT vec_id,
             sqrt(cast(cast(sum((CASE WHEN abs(v * v) < 5e-9 THEN cast(0 AS DECIMAL(38,8)) ELSE cast(cast(v * v AS VARCHAR) AS DECIMAL(38,8)) END)) AS VARCHAR) AS DOUBLE)) AS nrm
      FROM unn GROUP BY vec_id
    ),
    dots AS (
      SELECT a.vec_id AS probe_id, b.vec_id AS cand_id,
             cast(cast(sum((CASE WHEN abs(a.v * b.v) < 5e-9 THEN cast(0 AS DECIMAL(38,8)) ELSE cast(cast(a.v * b.v AS VARCHAR) AS DECIMAL(38,8)) END)) AS VARCHAR) AS DOUBLE) AS dot
      FROM unn a JOIN unn b ON a.pos = b.pos
      WHERE a.vec_id < {N_PROBES} AND b.vec_id <> a.vec_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.probe_id, d.cand_id,
             vp.label AS probe_label, vc.label AS cand_label,
             d.dot / (na.nrm * nb.nrm) AS cos
      FROM dots d
      JOIN norms na ON na.vec_id = d.probe_id
      JOIN norms nb ON nb.vec_id = d.cand_id
      JOIN ve vp ON vp.vec_id = d.probe_id
      JOIN ve vc ON vc.vec_id = d.cand_id
      WHERE vp.label <> vc.label
    ),
    ranked AS (
      SELECT probe_id, cand_id, cand_label, cos,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY cos DESC, cand_id) AS rn
      FROM scored
    )
    SELECT probe_id, cand_id, cand_label,
           {sql_dround('cos')} AS cos,
           rn::INT AS rn
    FROM ranked WHERE rn BETWEEN {HN_LO} AND {HN_HI}
    """,
)
def q_sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive / embedding training: for
    each probe (vec_id < {N_PROBES}), the OTHER-label candidates
    ranked {HN_LO}..{HN_HI} by cosine — close enough to the probe to
    be informative negatives, past the head where near-duplicates and
    same-concept items live. The standard batch-construction op for
    training retrievers/encoders (the counterpart of q_sim_topk_cosine,
    which mines the positives/head).

    Determinism: exact-decimal dot products (the q_sim_topk_cosine
    envelope), ranking on identical doubles with cand_id tie-break,
    and the label filter applied BEFORE ranking so both engines rank
    the same candidate set.

    Scale: identical plan shape to q_sim_topk_cosine — the bounded
    probe side broadcasts (never the corpus); the label filter is a
    stateless predicate on the pair stream; per-probe ranking windows
    partition by probe_id (never global); output is probes x band
    rows. At IVF scale the candidate stream swaps to the routed lists
    and the band tail is unchanged."""
    ve = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double_array("embedding").alias("vec")
    )
    unn = ve.select("vec_id", F.posexplode("vec").alias("pos", "v"))
    norms = unn.groupBy("vec_id").agg(
        F.sqrt(F.sum((F.col("v") * F.col("v")).cast(DEC)).cast("double")).alias("nrm")
    )
    a = unn.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), "pos", F.col("v").alias("va")
    )
    b = unn.select(F.col("vec_id").alias("cand_id"), "pos", F.col("v").alias("vb"))
    dots = (
        F.broadcast(a).join(b, "pos")
        .filter(F.col("cand_id") != F.col("probe_id"))
        .groupBy("probe_id", "cand_id")
        .agg(F.sum((F.col("va") * F.col("vb")).cast(DEC)).cast("double").alias("dot"))
    )
    na = norms.select(F.col("vec_id").alias("probe_id"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("vec_id").alias("cand_id"), F.col("nrm").alias("nb"))
    lp = ve.select(F.col("vec_id").alias("probe_id"), F.col("label").alias("probe_label"))
    lc = ve.select(F.col("vec_id").alias("cand_id"), F.col("label").alias("cand_label"))
    scored = (
        dots.join(na, "probe_id")
        .join(nb, "cand_id")
        .join(F.broadcast(lp), "probe_id")
        .join(lc, "cand_id")
        .filter(F.col("probe_label") != F.col("cand_label"))
        .select(
            "probe_id", "cand_id", "cand_label",
            (F.col("dot") / (F.col("na") * F.col("nb"))).alias("cos"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos").desc(), F.col("cand_id"))
    return (
        scored.select(
            "probe_id", "cand_id", "cand_label", "cos",
            F.row_number().over(w).alias("rn"),
        )
        .filter((F.col("rn") >= HN_LO) & (F.col("rn") <= HN_HI))
        .select(
            "probe_id", "cand_id", "cand_label",
            dround("cos").alias("cos"),
            F.col("rn").cast("int").alias("rn"),
        )
    )


@query(
    "q_vec_residual_energy",
    oracle=f"""
    WITH ve AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
    ),
    {_ivf_train_ctes(IVF_TRAIN_ITERS)},
    lists AS (
      SELECT v.vec_id, v.vec, c.cid, c.cvec
      FROM ve v CROSS JOIN coarse c
      QUALIFY row_number() OVER (PARTITION BY v.vec_id
        ORDER BY list_distance(v.vec, c.cvec), c.cid) = 1
    ),
    unn AS (
      SELECT vec_id, cid, unnest(vec) AS v,
             generate_subscripts(vec, 1) AS pos FROM lists
    ),
    cunn AS (
      SELECT cid, unnest(cvec) AS c,
             generate_subscripts(cvec, 1) AS pos FROM coarse
    ),
    pervec AS (
      SELECT u.vec_id, u.cid,
             cast(cast(sum((CASE WHEN abs((u.v - cu.c) * (u.v - cu.c)) < 5e-9 THEN cast(0 AS DECIMAL(38,8)) ELSE cast(cast((u.v - cu.c) * (u.v - cu.c) AS VARCHAR) AS DECIMAL(38,8)) END)) AS VARCHAR) AS DOUBLE) AS d2res,
             cast(cast(sum((CASE WHEN abs(u.v * u.v) < 5e-9 THEN cast(0 AS DECIMAL(38,8)) ELSE cast(cast(u.v * u.v AS VARCHAR) AS DECIMAL(38,8)) END)) AS VARCHAR) AS DOUBLE) AS d2tot
      FROM unn u JOIN cunn cu ON cu.cid = u.cid AND cu.pos = u.pos
      GROUP BY u.vec_id, u.cid
    ),
    perlist AS (
      SELECT cid, count(*) AS n_vecs,
             cast(cast(sum((CASE WHEN abs(d2res) < 5e-9 THEN cast(0 AS DECIMAL(38,8)) ELSE cast(cast(d2res AS VARCHAR) AS DECIMAL(38,8)) END)) AS VARCHAR) AS DOUBLE) AS eres,
             cast(cast(sum((CASE WHEN abs(d2tot) < 5e-9 THEN cast(0 AS DECIMAL(38,8)) ELSE cast(cast(d2tot AS VARCHAR) AS DECIMAL(38,8)) END)) AS VARCHAR) AS DOUBLE) AS etot
      FROM pervec GROUP BY cid
    )
    SELECT cid, cast(n_vecs AS BIGINT) AS n_vecs,
           {sql_dround('eres', 4)} AS e_res,
           {sql_dround('etot', 4)} AS e_tot,
           {sql_dround('eres / etot', 6)} AS residual_ratio
    FROM perlist
    """,
)
def q_vec_residual_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF residual-energy audit: per inverted list, the fraction of
    vector energy the coarse quantizer FAILS to explain —
    Σ|x−c|² / Σ|x|² over the list's members. The index-design
    diagnostic that complements q_sim_ivf_recall's behavioral probe:
    high residual ratio on a list means its centroid is a poor proxy
    (PQ codebooks trained on those residuals will be coarse, recall
    drops) and is the signal to split lists / retrain — at 100 TB you
    run THIS before re-encoding a petabyte of codes.

    Determinism: coarse training replays the shared decimal-exact
    Lloyd CTEs (ivf_train twin); assignment argmin on the bit-matched
    euclidean/list_distance pair with cid tie-break; per-vector and
    per-list energies are exact decimal sums; the ratio is one double
    division, stable-rounded.

    Scale: one broadcast of the nlist·d centroid table, per-vector
    residuals computed where the vectors live (zip_with fold — no
    dimension explosion leaves the map side), one map-side-combined
    groupBy(cid) down to nlist rows. Nothing data-sized shuffles."""
    ve = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("vec")
    )
    cents = table_ivf_train(spark, sf_dir)
    lists = ivf_assign(ve, cents, "vec", "cvec").select(
        "vec_id", "cid", "vec", "cvec"
    )
    res_term = F.zip_with(
        F.col("vec"), F.col("cvec"),
        lambda x, y: ((x - y) * (x - y)).cast("decimal(28,8)"),
    )
    d2res = F.aggregate(
        res_term,
        F.lit(0).cast("decimal(28,8)"),
        lambda a, v: (a + v).cast("decimal(28,8)"),
    ).cast("double")
    pervec = lists.select(
        "cid",
        d2res.alias("d2res"),
        dot_dec(F.col("vec"), F.col("vec")).cast("double").alias("d2tot"),
    )
    return (
        pervec.groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.sum(F.col("d2res").cast(DEC)).cast("double").alias("eres"),
            F.sum(F.col("d2tot").cast(DEC)).cast("double").alias("etot"),
        )
        .select(
            "cid",
            "n_vecs",
            dround("eres", 4).alias("e_res"),
            dround("etot", 4).alias("e_tot"),
            dround(F.col("eres") / F.col("etot"), 6).alias("residual_ratio"),
        )
    )


def _gemm_grid(n_sub: int, n: int, d: int, k: int) -> tuple[int, int]:
    """Derive the (bs, bc) block grid for knn_topk_gemm_exact from the
    actual table counts so the per-task GEMM tile fits a FIXED byte
    budget at any corpus size (VERDICT r7 task 1: the previous fixed
    8x8 grid made the tile quadratic in the corpus — ~5 MB at sf1 but
    ~50 GB/task at 100x, the exact kmeans.java:94-style replication
    failure this kernel exists to retire).

    cap = max rows per block on either side: ``gemm_tile(d)``, raised
    to k (a corpus block smaller than k just returns all rows —
    losslessness never depends on block size, this is purely so the
    grid doesn't over-shard tiny inputs). bs/bc = ceil(count / cap):
    the task count bs*bc then grows LINEARLY with the pair count
    n_sub*n while per-task memory stays constant — the gate in
    tests/test_gemm_exact.py asserts both properties across a 10^6x
    count sweep."""
    cap = max(gemm_tile(d), k)
    bs = max(1, -(-max(n_sub, 1) // cap))
    bc = max(1, -(-max(n, 1) // cap))
    return bs, bc


def knn_topk_gemm_exact(
    sub: DataFrame,
    corpus: DataFrame,
    k: int,
    bs: int | None = None,
    bc: int | None = None,
    slack: float = 1e-5,
) -> DataFrame:
    """PRODUCTION top-k generator for the exact-kNN keys
    (q_vec_knn_graph similarity.py and q_ml_knn_classify — wired in
    round 7, commit f7ba801): float-GEMM prefilter + exact-decimal
    re-rank, provably bit-identical to scoring EVERY pair with dot_dec.

    The previous all-pairs form spent ~all its time evaluating the
    interpreted DECIMAL(28,8) fold on n_sub x n pairs (149 s at sf1 for
    q_ml_knn_classify; 5.8 s on this path). This path:

    1. blocked cogroup GEMM (bs x bc block pairs, derived from the
       table COUNTS by _gemm_grid so the per-task tile fits a fixed
       byte budget at any scale; no broadcast of either table) emits
       each src's float-cosine top-k PER CORPUS BLOCK — the union
       necessarily contains the global float top-k;
    2. the global float k-th value per src comes off that bounded
       union (window partitioned by src);
    3. a second GEMM pass keeps every pair with
       cos_f >= kth_f − margin, margin = 2·slack/(na·min_nb);
    4. the survivors (≈ k + ties per src) are scored with the SAME
       dot_dec/(na·nb) expression and window the declared keys use.

    Losslessness: with exact-decimal norms carried on both sides, the
    only float/decimal divergence is the dot: |dot_f − dot_dec| ≤
    d·5e-9 (per-term 8dp rounding) + d·ulp accumulation ≈ 3.3e-7 at
    d=64, so |cos_f − cos_exact| ≤ 3.3e-7/(na·nb). Standard order-
    statistic argument: any exact-top-k member has cos_f ≥ kth_f − 2ε,
    and slack=1e-5 is ~30x that bound. Exact ties at the boundary all
    survive (equal cos_exact ⇒ equal bound) and resolve by dst in the
    exact re-rank, exactly as the declared window does.

    ``sub``: (src, va array<double>, na exact-decimal norm);
    ``corpus``: (dst, vb, nb). Returns (src, dst, cos, rn), rn ≤ k —
    bit-identical to ranking dot_dec over all pairs.

    Block assignment is xxhash64-based, NOT id modulo: the declared
    keys' probe side is the vec_id ≡ 0 (mod 8) subset, whose ids are
    all congruent — a modulo grid would collapse every probe row into
    one block and pair 7/8 of the replicated corpus with empty groups.
    Losslessness never depends on block composition (every pair is
    still scored exactly once per pass, and the union's k-th ranked
    element equals the global float k-th for ANY grid), so hashing is
    free to fix the skew.

    Verified equal to the declared all-pairs path at
    sf0.001/0.01/0.1 + sf1 (tests/test_gemm_exact.py), including the
    adversarial boundary-tie fixture whose float cosines collide
    within the margin band."""
    import numpy as np
    import pandas as pd

    spark = sub.sparkSession
    min_nb, n_corpus = corpus.agg(
        F.min("nb"), F.count(F.lit(1))
    ).head()
    min_nb = float(min_nb)
    n_sub, dim = sub.agg(F.count(F.lit(1)), F.max(F.size("va"))).head()
    dbs, dbc = _gemm_grid(int(n_sub), int(n_corpus), int(dim or 1), k)
    bs = dbs if bs is None else bs
    bc = dbc if bc is None else bc

    cbs = spark.range(bc).select(F.col("id").cast("int").alias("cb"))
    sas = spark.range(bs).select(F.col("id").cast("int").alias("sa"))

    def blocks(left: DataFrame):
        left = left.withColumn(
            "sa", F.pmod(F.xxhash64("src"), F.lit(bs)).cast("int")
        ).crossJoin(F.broadcast(cbs))
        right = (
            corpus.select("dst", "vb", "nb")
            .withColumn(
                "cb", F.pmod(F.xxhash64("dst"), F.lit(bc)).cast("int")
            )
            .crossJoin(F.broadcast(sas))
        )
        return left.groupby("sa", "cb").cogroup(right.groupby("sa", "cb"))

    def gemm_cos(l: pd.DataFrame, r: pd.DataFrame):
        ids_a = l["src"].to_numpy(dtype=np.int64)
        ids_b = r["dst"].to_numpy(dtype=np.int64)
        A = np.array(list(l["va"]), dtype=np.float64)
        B = np.array(list(r["vb"]), dtype=np.float64)
        na = l["na"].to_numpy(dtype=np.float64)
        nb = r["nb"].to_numpy(dtype=np.float64)
        S = (A @ B.T) / (na[:, None] * nb[None, :])
        S[ids_a[:, None] == ids_b[None, :]] = -np.inf  # self pairs
        return ids_a, ids_b, S

    def topk_kernel(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"src": [], "dst": [], "cosf": []})
        if not len(l) or not len(r):
            return empty
        ids_a, ids_b, S = gemm_cos(l, r)
        kk = min(k, S.shape[1])
        part = np.argpartition(-S, kk - 1, axis=1)[:, :kk]
        rows = np.repeat(np.arange(len(ids_a)), kk)
        cols = part.ravel()
        keep = np.isfinite(S[rows, cols])
        return pd.DataFrame(
            {
                "src": ids_a[rows[keep]],
                "dst": ids_b[cols[keep]],
                "cosf": S[rows[keep], cols[keep]],
            }
        )

    cand = blocks(sub.select("src", "va", "na")).applyInPandas(
        topk_kernel, "src bigint, dst bigint, cosf double"
    )
    wk = Window.partitionBy("src").orderBy(F.col("cosf").desc(), F.col("dst"))
    kth = (
        cand.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") == k)
        .select("src", F.col("cosf").alias("kthf"))
    )
    sub_thr = sub.hint("merge").join(kth, "src", "left").withColumn(
        "thr", F.coalesce(F.col("kthf"), F.lit(-2.0))
    )

    def survivor_kernel(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"src": [], "dst": []})
        if not len(l) or not len(r):
            return empty
        ids_a, ids_b, S = gemm_cos(l, r)
        na = l["na"].to_numpy(dtype=np.float64)
        thr = l["thr"].to_numpy(dtype=np.float64)
        margin = 2.0 * slack / (na * min_nb)
        mask = S >= (thr - margin)[:, None]
        ai, bi = np.nonzero(mask)
        return pd.DataFrame({"src": ids_a[ai], "dst": ids_b[bi]})

    survivors = blocks(sub_thr.select("src", "va", "na", "thr")).applyInPandas(
        survivor_kernel, "src bigint, dst bigint"
    )
    # shuffle-pin the vector re-joins: every side here is
    # data-proportional (survivors ≈ n_sub·k, the vector tables are
    # the corpus), so the plan-contract rule stays simple — NOTHING
    # data-derived is ever inside a BroadcastExchange in these keys
    exact = (
        survivors.hint("merge").join(sub.select("src", "va", "na"), "src")
        .join(corpus.select("dst", "vb", "nb").hint("merge"), "dst")
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
    return exact.select(
        "src", "dst", "cos", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= k)
