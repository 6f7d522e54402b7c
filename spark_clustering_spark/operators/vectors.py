"""Vector-statistics operators (SURVEY.md §2B R2/R3/R17 rows).

The reference computes per-dimension min/max during its CSV parse
(kmeans.java:219-230) and derives PSO velocity bounds from them
(pso.java:199-205). Spark-first: posexplode + one hash aggregation —
partial aggregation makes this a single narrow pass + tiny shuffle
regardless of data size (64·k groups).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_clustering_spark.functions.detagg import dround
from spark_clustering_spark.functions.distance import as_double_array, euclidean
from spark_clustering_spark.functions.rng import lcg_uniform, sql_lcg_uniform
from spark_clustering_spark.io import pin, table
from spark_clustering_spark.registry import query

SQL_DIMS = """dims AS (
      SELECT vec_id, unnest(embedding::DOUBLE[]) AS v,
             generate_subscripts(embedding, 1) - 1 AS pos
      FROM embeddings
    )"""


@query(
    "q_vec_minmax",
    oracle=f"""
    WITH {SQL_DIMS}
    SELECT pos::INT AS pos,
           cast(cast(round(cast(cast((min(v)) AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS dim_min,
           cast(cast(round(cast(cast((max(v)) AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS dim_max
    FROM dims GROUP BY pos
    """,
)
def q_vec_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2: per-dimension min/max (min/max are order-insensitive — no
    decimal trick needed)."""
    e = table(spark, sf_dir, "embeddings")
    dims = e.select(F.posexplode(as_double_array("embedding")).alias("pos", "v"))
    return dims.groupBy("pos").agg(
        dround(F.min("v")).alias("dim_min"),
        dround(F.max("v")).alias("dim_max"),
    )


@query(
    "q_vec_vbounds",
    oracle=f"""
    WITH {SQL_DIMS}
    SELECT pos::INT AS pos,
           cast(cast(round(cast(cast(((max(v) - min(v)) / 100) AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS v_max,
           cast(cast(round(cast(cast((-((max(v) - min(v)) / 100)) AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS v_min
    FROM dims GROUP BY pos
    """,
)
def q_vec_vbounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R17: PSO velocity bounds = (max-min)/100 per dimension
    (pso.java:199-205)."""
    e = table(spark, sf_dir, "embeddings")
    dims = e.select(F.posexplode(as_double_array("embedding")).alias("pos", "v"))
    span = (F.max("v") - F.min("v")) / 100
    return dims.groupBy("pos").agg(
        dround(span).alias("v_max"),
        dround(-span).alias("v_min"),
    )


@query(
    "q_dist_euclidean",
    oracle="""
    WITH sample AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings WHERE vec_id < 20
    )
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           cast(cast(round(cast(cast((list_distance(a.vec, b.vec)) AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS dist
    FROM sample a JOIN sample b ON a.vec_id < b.vec_id
    """,
)
def q_dist_euclidean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3: pairwise L2 distances for a keyed sample — the zip_with/
    aggregate expression form of the reference's compute_dist
    (kmeans.java:254-260); stays fully inside codegen."""
    e = table(spark, sf_dir, "embeddings")
    s = e.filter(F.col("vec_id") < 20).select(
        "vec_id", as_double_array("embedding").alias("vec")
    )
    a = s.select(F.col("vec_id").alias("a_id"), F.col("vec").alias("va"))
    b = s.select(F.col("vec_id").alias("b_id"), F.col("vec").alias("vb"))
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            dround(euclidean(F.col("va"), F.col("vb"))).alias("dist"),
        )
    )


COV_DIMS = 8  # leading dims in the exact-decimal declared query


@query(
    "q_vec_covariance",
    # exact DECIMAL(38,8) sums of v, and of the vi·vj products (the
    # per-row product is one IEEE double op, identical both engines;
    # the SUM over rows is exact decimal, so accumulation order can't
    # flap bits) — then the textbook E[xy] − E[x]E[y] evaluated with
    # identical double expression trees
    oracle=f"""
    WITH dims AS (
      SELECT vec_id, unnest(embedding::DOUBLE[]) AS v,
             generate_subscripts(embedding, 1) - 1 AS pos
      FROM embeddings
    ),
    d8 AS (SELECT vec_id, pos, v FROM dims WHERE pos < {COV_DIMS}),
    pairs AS (
      SELECT a.pos AS i, b.pos AS j, count(*) AS n,
             cast(cast(sum(cast(a.v AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS sx,
             cast(cast(sum(cast(b.v AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS sy,
             cast(cast(sum(cast(a.v * b.v AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS sxy
      FROM d8 a JOIN d8 b ON a.vec_id = b.vec_id AND a.pos <= b.pos
      GROUP BY 1, 2
    )
    SELECT i::INT AS i, j::INT AS j, n,
           cast(cast(round(cast(cast((sxy / n - (sx / n) * (sy / n)) AS VARCHAR)
                AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS cov
    FROM pairs
    """,
)
def q_vec_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance matrix (upper triangle) of the leading {COV_DIMS}
    embedding dimensions — the PCA / whitening precursor of every
    embedding pipeline, with exact-decimal sums so it hash-verifies.

    Scale: the i≤j self-join amplifies each row by COV_DIMS², so the
    exact-decimal form is declared on a bounded dim slice."""
    e = table(spark, sf_dir, "embeddings")
    dims = e.select(
        "vec_id", F.posexplode(as_double_array("embedding")).alias("pos", "v")
    ).filter(F.col("pos") < COV_DIMS)
    a = dims.select("vec_id", F.col("pos").alias("i"), F.col("v").alias("va"))
    b = dims.select("vec_id", F.col("pos").alias("j"), F.col("v").alias("vb"))
    DEC = "decimal(38,8)"
    pairs = (
        a.join(b, "vec_id")
        .filter(F.col("i") <= F.col("j"))
        .groupBy("i", "j")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("va").cast(DEC)).cast("double").alias("sx"),
            F.sum(F.col("vb").cast(DEC)).cast("double").alias("sy"),
            F.sum((F.col("va") * F.col("vb")).cast(DEC)).cast("double").alias("sxy"),
        )
    )
    cov = F.col("sxy") / F.col("n") - (F.col("sx") / F.col("n")) * (
        F.col("sy") / F.col("n")
    )
    return pairs.select("i", "j", "n", dround(cov).alias("cov"))


PCA_ITERS = 2  # power-iteration steps in the declared query


def _pca_power_sql() -> str:
    """DuckDB twin of q_vec_pca_power: exact-decimal covariance of the
    leading COV_DIMS dims, then PCA_ITERS unrolled power steps — each
    matrix-vector product an exact decimal sum of per-term doubles."""
    steps = []
    prev = "v0"
    for t in range(1, PCA_ITERS + 1):
        steps.append(f"""u{t} AS (
      SELECT c.i, cast(cast(sum(cast(c.c * v.v AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS u
      FROM cov c JOIN {prev} v ON v.j = c.j GROUP BY c.i
    ),
    n{t} AS (
      SELECT sqrt(cast(cast(sum(cast(u * u AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)) AS nrm
      FROM u{t}
    ),
    v{t} AS (SELECT i AS j, u / nrm AS v FROM u{t} CROSS JOIN n{t})""")
        prev = f"v{t}"
    steps_sql = ",\n    ".join(steps)
    return f"""
    WITH dims AS (
      SELECT vec_id, unnest(embedding::DOUBLE[]) AS v,
             generate_subscripts(embedding, 1) - 1 AS pos
      FROM embeddings
    ),
    d8 AS (SELECT vec_id, pos, v FROM dims WHERE pos < {{cov_dims}}),
    p AS (
      SELECT a.pos AS i, b.pos AS j, count(*) AS n,
             cast(cast(sum(cast(a.v AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS sx,
             cast(cast(sum(cast(b.v AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS sy,
             cast(cast(sum(cast(a.v * b.v AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS sxy
      FROM d8 a JOIN d8 b ON a.vec_id = b.vec_id
      GROUP BY 1, 2
    ),
    cov AS (SELECT i, j, sxy / n - (sx / n) * (sy / n) AS c FROM p),
    v0 AS (SELECT DISTINCT j,
                  CASE WHEN j = 0 THEN 1.0 ELSE 0.0 END AS v FROM cov),
    {steps_sql}
    SELECT v.j::INT AS pos,
           cast(cast(round(cast(cast((v.v) AS VARCHAR)
                AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS loading,
           cast(cast(round(cast(cast((n.nrm) AS VARCHAR)
                AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS eigenvalue
    FROM v{PCA_ITERS} v CROSS JOIN n{PCA_ITERS} n
    """


@query("q_vec_pca_power", oracle=_pca_power_sql().format(cov_dims=COV_DIMS))
def q_vec_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the leading COV_DIMS embedding
    dimensions via PCA_ITERS power-iteration steps on the exact-decimal
    covariance matrix (q_vec_covariance's construction), started from
    e₀: v ← Cv / ‖Cv‖. Emits the unit loading vector and the Rayleigh
    eigenvalue estimate ‖Cv‖ (v is unit) — the whitening / dimension-
    reduction precursor for embedding pipelines.

    Determinism: every matrix-vector product and norm is an exact
    DECIMAL(38,8) sum of per-term doubles (detagg), so each step's
    doubles are bit-identical in both engines and the iteration cannot
    drift.

    Scale: the covariance build is the only data-sized pass (the
    bounded dim slice of q_vec_covariance); each power step then moves
    only d² + d state (cov ⋈ v is a broadcast-sized join), the same
    driver-invisible constant-state shape as the fit kernels. More
    components = deflate and repeat, or hand the d×d matrix to a
    single-node eigensolver — it's d², not n."""
    e = table(spark, sf_dir, "embeddings")
    dims = e.select(
        "vec_id", F.posexplode(as_double_array("embedding")).alias("pos", "v")
    ).filter(F.col("pos") < COV_DIMS)
    a = dims.select("vec_id", F.col("pos").alias("i"), F.col("v").alias("va"))
    b = dims.select("vec_id", F.col("pos").alias("j"), F.col("v").alias("vb"))
    DEC = "decimal(38,8)"
    p = (
        a.join(b, "vec_id")
        .groupBy("i", "j")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("va").cast(DEC)).cast("double").alias("sx"),
            F.sum(F.col("vb").cast(DEC)).cast("double").alias("sy"),
            F.sum((F.col("va") * F.col("vb")).cast(DEC)).cast("double").alias("sxy"),
        )
    )
    cov = p.select(
        "i",
        "j",
        (
            F.col("sxy") / F.col("n")
            - (F.col("sx") / F.col("n")) * (F.col("sy") / F.col("n"))
        ).alias("c"),
    )
    v = cov.select("j").distinct().select(
        "j", F.when(F.col("j") == 0, F.lit(1.0)).otherwise(F.lit(0.0)).alias("v")
    )
    nrm = None
    for _ in range(PCA_ITERS):
        u = (
            cov.join(F.broadcast(v), "j")
            .groupBy("i")
            .agg(
                F.sum((F.col("c") * F.col("v")).cast(DEC))
                .cast("double")
                .alias("u")
            )
        )
        nrm = u.agg(
            F.sqrt(
                F.sum((F.col("u") * F.col("u")).cast(DEC)).cast("double")
            ).alias("nrm")
        )
        v = u.crossJoin(F.broadcast(nrm)).select(
            F.col("i").alias("j"), (F.col("u") / F.col("nrm")).alias("v")
        )
    return v.crossJoin(F.broadcast(nrm)).select(
        F.col("j").cast("int").alias("pos"),
        dround("v", 6).alias("loading"),
        dround("nrm").alias("eigenvalue"),
    )


def _pca_deflate_sql() -> str:
    """DuckDB twin of q_vec_pca_deflate: the q_vec_pca_power chain,
    then rank-one deflation C₂ = C − λ₁·v₁v₁ᵀ and the same unrolled
    power steps on C₂."""
    base = _pca_power_sql().format(cov_dims=COV_DIMS)
    # strip the base query's final SELECT; keep its CTE chain (and
    # restore the comma the SELECT boundary swallowed)
    ctes = base[: base.rindex("SELECT")].rstrip() + ","
    steps = []
    prev = "w0"
    for t in range(1, PCA_ITERS + 1):
        steps.append(f"""x{t} AS (
      SELECT c.i, cast(cast(sum(cast(c.c2 * v.v AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS u
      FROM cov2 c JOIN {prev} v ON v.j = c.j GROUP BY c.i
    ),
    m{t} AS (
      SELECT sqrt(cast(cast(sum(cast(u * u AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)) AS nrm
      FROM x{t}
    ),
    w{t} AS (SELECT i AS j, u / nrm AS v FROM x{t} CROSS JOIN m{t})""")
        prev = f"w{t}"
    steps_sql = ",\n    ".join(steps)
    return f"""{ctes}
    cov2 AS (
      SELECT c.i, c.j, c.c - n.nrm * a.v * b.v AS c2
      FROM cov c
      JOIN v{PCA_ITERS} a ON a.j = c.i
      JOIN v{PCA_ITERS} b ON b.j = c.j
      CROSS JOIN n{PCA_ITERS} n
    ),
    w0 AS (SELECT DISTINCT j,
                  CASE WHEN j = 0 THEN 1.0 ELSE 0.0 END AS v FROM cov),
    {steps_sql}
    SELECT w.j::INT AS pos,
           cast(cast(round(cast(cast((w.v) AS VARCHAR)
                AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS loading2,
           cast(cast(round(cast(cast((m.nrm) AS VARCHAR)
                AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS eigenvalue2
    FROM w{PCA_ITERS} w CROSS JOIN m{PCA_ITERS} m
    """


@query("q_vec_pca_deflate", oracle=_pca_deflate_sql())
def q_vec_pca_deflate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second principal direction via rank-one DEFLATION: run the
    q_vec_pca_power iteration for (v₁, λ₁), subtract λ₁·v₁v₁ᵀ from the
    covariance, and power-iterate the deflated matrix from e₀ again.
    With λ₁'s component removed, the iteration now converges toward
    the second eigenvector — the standard route to top-k components
    one at a time (deflate-and-repeat), each step cheap because
    everything after the covariance build is d²-sized state.

    Determinism: identical to q_vec_pca_power — exact-decimal
    matrix-vector sums, IEEE doubles from identical inputs at every
    step, both engines unroll the same chain (cross-checked against a
    numpy replay of the same procedure in tests).

    Scale: the covariance build is the only data-sized pass; every
    later step is d²-sized DataFrame state — deflation never touches
    the data again."""
    e = table(spark, sf_dir, "embeddings")
    dims = e.select(
        "vec_id", F.posexplode(as_double_array("embedding")).alias("pos", "v")
    ).filter(F.col("pos") < COV_DIMS)
    a = dims.select("vec_id", F.col("pos").alias("i"), F.col("v").alias("va"))
    b = dims.select("vec_id", F.col("pos").alias("j"), F.col("v").alias("vb"))
    DEC = "decimal(38,8)"
    p = (
        a.join(b, "vec_id")
        .groupBy("i", "j")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("va").cast(DEC)).cast("double").alias("sx"),
            F.sum(F.col("vb").cast(DEC)).cast("double").alias("sy"),
            F.sum((F.col("va") * F.col("vb")).cast(DEC)).cast("double").alias("sxy"),
        )
    )
    # d^2 rows; consumed by both phases
    cov = pin(
        p.select(
            "i",
            "j",
            (
                F.col("sxy") / F.col("n")
                - (F.col("sx") / F.col("n")) * (F.col("sy") / F.col("n"))
            ).alias("c"),
        )
    )

    def power(mat: DataFrame, val_col: str):
        v = mat.select("j").distinct().select(
            "j",
            F.when(F.col("j") == 0, F.lit(1.0)).otherwise(F.lit(0.0)).alias("v"),
        )
        nrm = None
        for _ in range(PCA_ITERS):
            u = (
                mat.join(F.broadcast(v), "j")
                .groupBy("i")
                .agg(
                    F.sum((F.col(val_col) * F.col("v")).cast(DEC))
                    .cast("double")
                    .alias("u")
                )
            )
            nrm = u.agg(
                F.sqrt(
                    F.sum((F.col("u") * F.col("u")).cast(DEC)).cast("double")
                ).alias("nrm")
            )
            v = u.crossJoin(F.broadcast(nrm)).select(
                F.col("i").alias("j"), (F.col("u") / F.col("nrm")).alias("v")
            )
        return v, nrm

    v1, n1 = power(cov, "c")
    # v1/n1 are d-row / 1-row results consumed by three joins, and the
    # deflated matrix feeds another full power phase — pin them so the
    # first phase's chained-join lineage isn't re-executed per consumer
    v1 = pin(v1)
    n1 = pin(n1)
    va = v1.select(F.col("j").alias("i"), F.col("v").alias("via"))
    vb = v1.select("j", F.col("v").alias("vjb"))
    cov2 = pin(
        cov.join(F.broadcast(va), "i")
        .join(F.broadcast(vb), "j")
        .crossJoin(F.broadcast(n1))
        .select(
            "i",
            "j",
            (F.col("c") - F.col("nrm") * F.col("via") * F.col("vjb")).alias("c2"),
        )
    )
    v2, n2 = power(cov2, "c2")
    return v2.crossJoin(F.broadcast(n2)).select(
        F.col("j").cast("int").alias("pos"),
        dround("v", 6).alias("loading2"),
        dround("nrm").alias("eigenvalue2"),
    )


RP_K = 8        # output dimensionality of the sign projection
RP_SEED = 777   # LCG substream for the sign matrix


@query(
    "q_vec_random_projection",
    oracle=f"""
    WITH dims AS (
      SELECT vec_id, unnest(embedding::DOUBLE[]) AS v,
             generate_subscripts(embedding, 1) - 1 AS pos
      FROM embeddings
    ),
    proj AS (
      SELECT vec_id, k,
             sum(cast(v * (CASE WHEN {sql_lcg_uniform('pos * 8 + k', 777)} < 0.5
                           THEN 1.0 ELSE -1.0 END) AS DECIMAL(38,8))) AS s
      FROM dims CROSS JOIN (SELECT unnest(range(0, 8)) AS k)
      GROUP BY vec_id, k
    )
    SELECT vec_id, k::INT AS k, cast(round(s, 4) AS DOUBLE) AS proj
    FROM proj
    """,
)
def q_vec_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss sign random projection: 64-d embeddings
    down to {RP_K} dims with a seeded Rademacher (±1) matrix — the
    standard cheap dimensionality reduction in front of LSH / coarse
    clustering. The sign matrix is never materialized: entry (j,k) is
    a pure function of the portable LCG stream keyed j·8+k, so both
    engines (and every executor) derive it independently — the
    broadcast-free version of broadcasting the matrix.

    Determinism: each v·(±1) term is exact in double; the per-(vec,k)
    sum accumulates in DECIMAL(38,8) (order-proof).

    Scale: one shuffle keyed (vec_id, k) of scalar terms. At true
    100 TB you'd fuse this into a mapInPandas GEMM against the same
    LCG-derived matrix (zero shuffle); the declared expression form is
    the oracle-replayable twin of that kernel."""
    e = table(spark, sf_dir, "embeddings")
    dims = e.select(
        "vec_id", F.posexplode(as_double_array("embedding")).alias("pos", "v")
    )
    expanded = dims.select(
        "vec_id",
        "pos",
        "v",
        F.explode(F.sequence(F.lit(0), F.lit(RP_K - 1))).alias("k"),
    )
    sign = F.when(
        lcg_uniform(F.col("pos") * 8 + F.col("k"), seed=RP_SEED) < 0.5, F.lit(1.0)
    ).otherwise(F.lit(-1.0))
    return (
        expanded.groupBy("vec_id", "k")
        .agg(F.sum((F.col("v") * sign).cast("decimal(38,8)")).alias("s"))
        .select(
            "vec_id",
            F.col("k").cast("int").alias("k"),
            F.round("s", 4).cast("double").alias("proj"),
        )
    )


OUTLIER_TOPK = 20  # reported outliers


@query(
    "q_vec_outlier_mahalanobis",
    oracle=f"""
    WITH dims AS (
      SELECT vec_id, unnest(embedding::DOUBLE[]) AS v,
             generate_subscripts(embedding, 1) - 1 AS pos
      FROM embeddings
    ),
    s AS (
      SELECT pos, count(*) AS n,
             cast(cast(sum(cast(v AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS sx,
             cast(cast(sum(cast(v * v AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS sxx
      FROM dims GROUP BY pos
    ),
    terms AS (
      SELECT d.vec_id,
             cast(
               (d.v - s.sx / s.n) * (d.v - s.sx / s.n)
               / (s.sxx / s.n - (s.sx / s.n) * (s.sx / s.n))
               AS DECIMAL(38,12)) AS t
      FROM dims d JOIN s USING (pos)
    ),
    sc AS (
      SELECT vec_id, cast(sum(t) AS DOUBLE) AS raw_m2
      FROM terms GROUP BY vec_id
    )
    SELECT vec_id,
           cast(cast(round(cast(cast(raw_m2 AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS m2
    -- order by the RAW score (an `m2` here would resolve to the
    -- 4dp-ROUNDED output alias; the Spark side TakeOrders on the raw
    -- value — the 14c6aba bug class, caught by the oracle audit in
    -- tests/test_parity_sample.py)
    FROM sc ORDER BY raw_m2 DESC, vec_id LIMIT {OUTLIER_TOPK}
    """,
)
def q_vec_outlier_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier detection: the {OUTLIER_TOPK} vectors
    with the largest diagonal Mahalanobis distance Σᵢ(xᵢ−μᵢ)²/σᵢ² —
    the distribution-aware generalization of L2-to-centroid (a
    dimension with tight variance counts for more), the standard
    cheap screen for corrupted embeddings / off-manifold documents
    before expensive dedup or ANN indexing.

    Determinism: per-dimension μ, σ² come from exact decimal sums;
    each per-dimension term quantizes to DECIMAL(38,12) before the
    per-vector sum, so dimension accumulation order can't flap bits;
    the top-k orders by the exact pre-rounding score with vec_id
    tiebreak.

    Scale: two passes — (1) per-dim moments: posexplode then a
    map-side-combined aggregate to d rows, broadcast back; (2) per-
    vector score: the same explode shape aggregating n rows keyed
    vec_id. Top-k is TakeOrderedAndProject (per-partition heaps), not
    a global sort. The d-row stats table broadcasts; nothing else is
    small-state."""
    pts = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("vec")
    )
    dims = pts.select("vec_id", F.posexplode("vec").alias("pos", "v"))
    s = dims.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("v").cast("decimal(38,8)")).cast("double").alias("sx"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(38,8)"))
        .cast("double")
        .alias("sxx"),
    )
    mu = F.col("sx") / F.col("n")
    var = F.col("sxx") / F.col("n") - (F.col("sx") / F.col("n")) * (
        F.col("sx") / F.col("n")
    )
    terms = dims.join(F.broadcast(s), "pos").select(
        "vec_id",
        (((F.col("v") - mu) * (F.col("v") - mu)) / var)
        .cast("decimal(38,12)")
        .alias("t"),
    )
    sc = terms.groupBy("vec_id").agg(F.sum("t").cast("double").alias("m2"))
    return (
        sc.orderBy(F.desc("m2"), "vec_id")
        .limit(OUTLIER_TOPK)
        .select("vec_id", dround("m2", 4).alias("m2"))
    )
