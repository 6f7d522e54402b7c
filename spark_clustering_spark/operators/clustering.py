"""Clustering primitive operators (SURVEY.md §2B R4-R12 rows).

These are the Spark-first building blocks of the reference's clustering
algorithms, each individually oracle-checked:

- nearest-centroid assignment (reference kmeans.java:103-123, R4)
- centroid update / mean-by-key (kmeans.java:124-179, R5)
- objective = sum of *unsquared* L2 distances (kmeans.java:186-191, Q4)
- empty-cluster detection (kmeans.java:192-195, R8/Q1 — implemented
  correctly here, unlike the reference's dead code)
- roulette-wheel CDF (gka.java:253-304, R10)
- mutation weights (gka.java:165-237, R12)
- best-objective tracking (kmeans.java:199-200, R7)
- two unrolled Lloyd iterations (composition check)

Scale design: the data stays partitioned; only the k×d centroid table is
broadcast (inverse of the reference, which broadcasts the dataset —
kmeans.java:94). The argmin is a broadcast cross-join + per-point
min-struct aggregation: one narrow stage, no shuffle of the big side
until the (tiny) per-cluster aggregation.

Determinism: per-dimension means use exact DECIMAL(38,8) sums
(functions/detagg.py) so partial-aggregation order can't perturb the
result; distances are fixed-order double folds, bit-identical across
engines; ties in the argmin break on the lower centroid id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_clustering_spark.functions.detagg import DEC, dround, dsum, sql_dround, sql_dsum
from spark_clustering_spark.functions.distance import as_double_array, euclidean
from spark_clustering_spark.functions.rng import lcg_uniform, sql_lcg_uniform
from spark_clustering_spark.io import pin, spread, table
from spark_clustering_spark.registry import query

K_DEFAULT = 8


def points_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, vec: array<double>) off the embeddings table."""
    return table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("vec")
    )


def centroids_df(spark: SparkSession, sf_dir: str, k: int = K_DEFAULT) -> DataFrame:
    """Deterministic init: the k lowest vec_ids (FIXTURES.md §3)."""
    return (
        points_df(spark, sf_dir)
        .orderBy("vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("cid"), F.col("vec").alias("cvec"))
    )


def assign(points: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: (vec_id, vec, cluster_id, dist).

    Broadcast cross-join against the (tiny) centroid table, then argmin
    via min(struct(dist, cid)) — a hash aggregation, not a sort, so it
    scales as one narrow pass + map-side combine over the data.
    """
    pairs = points.crossJoin(F.broadcast(centroids)).withColumn(
        "dist", euclidean(F.col("vec"), F.col("cvec"))
    )
    best = pairs.groupBy("vec_id").agg(
        F.min(F.struct("dist", "cid")).alias("best"),
        F.first("vec").alias("vec"),
    )
    return best.select(
        "vec_id",
        "vec",
        F.col("best.cid").alias("cluster_id"),
        F.col("best.dist").alias("dist"),
    )


def update_centroids(assigned: DataFrame) -> DataFrame:
    """Lloyd centroid update: exact-decimal per-dimension means.

    One shuffle keyed on (cluster, dim) after a posexplode — partial
    aggregation happens map-side; cluster count k and dim d are small so
    the reduce side is tiny regardless of data size.
    Returns (cid, cvec array<double>, n_points, sum_dist).
    """
    exploded = assigned.select(
        "cluster_id", "dist", F.posexplode("vec").alias("pos", "v")
    )
    per_dim = exploded.groupBy("cluster_id", "pos").agg(
        (F.sum(F.col("v").cast(DEC)).cast("double") / F.count(F.lit(1))).alias("mean_v"),
        F.count(F.lit(1)).alias("n_points"),
        F.sum(F.col("dist").cast(DEC)).cast("double").alias("sum_dist"),
        F.sum((F.col("dist") * F.col("dist")).cast(DEC)).cast("double").alias("sum_sq"),
    )
    return (
        per_dim.groupBy("cluster_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mean_v"))),
                lambda s: s.mean_v,
            ).alias("cvec"),
            F.first("n_points").alias("n_points"),
            F.first("sum_dist").alias("sum_dist"),
            F.first("sum_sq").alias("sum_sq"),
        )
        .select(
            F.col("cluster_id").alias("cid"), "cvec", "n_points", "sum_dist", "sum_sq"
        )
    )


# ---------------------------------------------------------------- oracle SQL
# Shared DuckDB CTE fragments, kept string-side-by-side with the Spark
# helpers above so the two can't drift.

def sql_points() -> str:
    return "pts AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings)"


def sql_centroids(k: int, name: str = "ctr", src: str = "pts") -> str:
    return (
        f"{name} AS (SELECT vec_id AS cid, vec AS cvec FROM {src} "
        f"ORDER BY vec_id LIMIT {k})"
    )


def sql_assign(k: int, name: str = "assign", ctr: str = "ctr") -> str:
    return f"""{name} AS (
      SELECT p.vec_id, p.vec, c.cid AS cluster_id,
             list_distance(p.vec, c.cvec) AS dist
      FROM pts p CROSS JOIN {ctr} c
      QUALIFY row_number() OVER (
        PARTITION BY p.vec_id ORDER BY list_distance(p.vec, c.cvec), c.cid) = 1
    )"""


SQL_UNNEST = """unn AS (
      SELECT vec_id, unnest(vec) AS v,
             generate_subscripts(vec, 1) - 1 AS pos
      FROM pts
    )"""


def sql_update(name: str = "upd", assign: str = "assign") -> str:
    """Per-(cluster, dim) exact-decimal mean + counts, exploded form."""
    return f"""{name} AS (
      SELECT a.cluster_id, u.pos,
             cast(cast(sum(cast(u.v AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) / count(*) AS mean_v,
             count(*) AS n_points
      FROM {assign} a JOIN unn u ON a.vec_id = u.vec_id
      GROUP BY a.cluster_id, u.pos
    )"""


# ------------------------------------------------------------------ queries

@query(
    "q_assign_nearest",
    oracle=f"""
    WITH {sql_points()},
    {sql_centroids(K_DEFAULT)},
    {sql_assign(K_DEFAULT)}
    SELECT vec_id, cluster_id, cast(cast(round(cast(cast((dist) AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS dist
    FROM assign
    """,
)
def q_assign_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4: argmin-over-k assignment, k=8 deterministic centroids."""
    a = assign(points_df(spark, sf_dir), centroids_df(spark, sf_dir))
    return a.select("vec_id", "cluster_id", dround("dist").alias("dist"))


@query(
    "q_centroid_update",
    oracle=f"""
    WITH {sql_points()},
    {sql_centroids(K_DEFAULT)},
    {sql_assign(K_DEFAULT)},
    {SQL_UNNEST},
    {sql_update()}
    SELECT cluster_id, pos::INT AS pos, cast(cast(round(cast(cast((mean_v) AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS ctr_mean, n_points
    FROM upd
    """,
)
def q_centroid_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5: one Lloyd centroid update (mean by key), exploded per dim."""
    a = assign(points_df(spark, sf_dir), centroids_df(spark, sf_dir))
    upd = update_centroids(a)
    return upd.select(
        F.col("cid").alias("cluster_id"),
        F.posexplode("cvec").alias("pos", "ctr_mean"),
        "n_points",
    ).select("cluster_id", "pos", dround("ctr_mean").alias("ctr_mean"), "n_points")


@query(
    "q_sse_objective",
    oracle=f"""
    WITH {sql_points()},
    {sql_centroids(K_DEFAULT)},
    {sql_assign(K_DEFAULT)}
    SELECT {sql_dsum('dist', 'sse')}, count(*) AS n FROM assign
    """,
)
def q_sse_objective(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6/Q4: objective = sum of UNSQUARED L2 distances (reference
    kmeans.java:259 applies sqrt before summing)."""
    a = assign(points_df(spark, sf_dir), centroids_df(spark, sf_dir))
    return a.agg(dsum("dist", "sse"), F.count(F.lit(1)).alias("n"))


@query(
    "q_kmeans_iter2",
    oracle=f"""
    WITH {sql_points()},
    {sql_centroids(K_DEFAULT, name='c0')},
    {sql_assign(K_DEFAULT, name='a1', ctr='c0')},
    {SQL_UNNEST},
    {sql_update(name='u1', assign='a1')},
    c1 AS (
      SELECT cluster_id AS cid, list(mean_v ORDER BY pos) AS cvec
      FROM u1 GROUP BY cluster_id
    ),
    {sql_assign(K_DEFAULT, name='a2', ctr='c1')},
    {sql_update(name='u2', assign='a2')}
    SELECT cluster_id, pos::INT AS pos, cast(cast(round(cast(cast((mean_v) AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS ctr_mean, n_points
    FROM u2
    """,
)
def q_kmeans_iter2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled Lloyd iterations from deterministic init — the
    composition check for assign→update→assign→update (R4+R5+R11)."""
    pts = pin(points_df(spark, sf_dir))  # read by both assign passes
    c0 = centroids_df(spark, sf_dir)
    c1 = update_centroids(assign(pts, c0)).select("cid", "cvec")
    u2 = update_centroids(assign(pts, c1))
    return u2.select(
        F.col("cid").alias("cluster_id"),
        F.posexplode("cvec").alias("pos", "ctr_mean"),
        "n_points",
    ).select("cluster_id", "pos", dround("ctr_mean").alias("ctr_mean"), "n_points")


@query(
    "q_empty_cluster",
    oracle="""
    SELECT c.cid AS cluster_id
    FROM (SELECT unnest(range(16)) AS cid) c
    ANTI JOIN (SELECT DISTINCT label FROM embeddings) l ON c.cid = l.label
    """,
)
def q_empty_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R8/Q1: clusters with zero members, via left-anti join of the
    candidate cluster-id range against observed labels. The reference's
    reseed branch is dead code; this is the working detection primitive
    its reseed (ml/kmeans.py) builds on."""
    candidates = spark.range(16).select(F.col("id").cast("bigint").alias("cluster_id"))
    labels = table(spark, sf_dir, "embeddings").select(
        F.col("label").cast("bigint").alias("label")
    ).distinct()
    return candidates.join(
        labels, candidates.cluster_id == labels.label, "left_anti"
    )


@query(
    "q_best_tracking",
    oracle="""
    WITH hist AS (
      SELECT (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS iter,
             cast(cast(round(cast(cast(cast(sum(cast(o_totalprice AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)
                   / count(*) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS objective
      FROM orders GROUP BY 1
    )
    SELECT iter::INT AS iter, objective,
           min(objective) OVER (
             ORDER BY iter ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS best_so_far
    FROM hist
    """,
)
def q_best_tracking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7/R21: running min of an objective over an iteration history
    (built deterministically from orders-by-month)."""
    o = table(spark, sf_dir, "orders")
    hist = o.groupBy(
        ((F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1).alias("iter")
    ).agg(
        dround(
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double") / F.count(F.lit(1))
        ).alias("objective")
    )
    w = Window.orderBy("iter").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return hist.select(
        "iter", "objective", F.min("objective").over(w).alias("best_so_far")
    )


@query(
    "q_roulette_cdf",
    oracle="""
    WITH pop AS (
      SELECT o_orderkey AS member_id, 1.0 / o_totalprice AS fit
      FROM orders ORDER BY o_orderkey LIMIT 20
    ),
    cums AS (
      SELECT member_id, fit,
             sum(fit) OVER (ORDER BY member_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM pop
    )
    SELECT member_id,
           cast(cast(round(cast(cast((fit) AS VARCHAR) AS DECIMAL(38,14)), 10) AS VARCHAR) AS DOUBLE) AS fit10,
           cast(cast(round(cast(cast((cum / (max(cum) OVER ())) AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS cdf
    FROM cums
    """,
)
def q_roulette_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R10: GKA roulette wheel — fitness ∝ 1/objective, normalized
    cumulative sum. The total is taken as max(running cum) so both
    engines accumulate in the identical (ORDER BY) order → bit-identical
    doubles before rounding."""
    o = table(spark, sf_dir, "orders")
    pop = (
        o.orderBy("o_orderkey")
        .limit(20)
        .select(
            F.col("o_orderkey").alias("member_id"),
            (F.lit(1.0) / F.col("o_totalprice")).alias("fit"),
        )
    )
    w_run = Window.orderBy("member_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cums = pop.withColumn("cum", F.sum("fit").over(w_run))
    return cums.select(
        "member_id",
        F.round(F.col("fit").cast("decimal(38,14)"), 10).cast("double").alias("fit10"),
        dround(F.col("cum") / F.max("cum").over(w_all)).alias("cdf"),
    )


@query(
    "q_mutation_weights",
    oracle=f"""
    WITH {sql_points()},
    {sql_centroids(K_DEFAULT)},
    {sql_assign(K_DEFAULT)},
    wt AS (
      SELECT cluster_id, vec_id, dist,
             0.9 * (max(dist) OVER (PARTITION BY cluster_id)) - dist AS w
      FROM assign
    ),
    cums AS (
      SELECT cluster_id, vec_id, w,
             sum(w) OVER (PARTITION BY cluster_id ORDER BY vec_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM wt
    )
    SELECT cluster_id, vec_id,
           cast(cast(round(cast(cast((w) AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS w,
           cast(cast(round(cast(cast((cum / (last_value(cum) OVER (PARTITION BY cluster_id ORDER BY vec_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))) AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS cdf
    FROM cums
    """,
)
def q_mutation_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R12: GKA mutation wheel — weight = Cm·max(d) − d within each
    cluster (Cm=0.9 per the reference README defaults), plus the
    per-cluster CDF normalized by the TOTAL (last running cum, matching
    gka.java:207-215 — with Cm<1 some weights are negative, so max(cum)
    ≠ total and only the last-cum normalization makes the wheel end at
    1). last_value over an explicit ORDER BY frame keeps the float
    accumulation order identical in both engines."""
    a = assign(points_df(spark, sf_dir), centroids_df(spark, sf_dir))
    w_max = Window.partitionBy("cluster_id")
    w_ord = Window.partitionBy("cluster_id").orderBy("vec_id")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_full = w_ord.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wt = a.select(
        "cluster_id",
        "vec_id",
        (F.lit(0.9) * F.max("dist").over(w_max) - F.col("dist")).alias("w"),
    )
    cums = wt.withColumn("cum", F.sum("w").over(w_run))
    return cums.select(
        "cluster_id",
        "vec_id",
        dround("w").alias("w"),
        dround(F.col("cum") / F.last("cum").over(w_full)).alias("cdf"),
    )


SIL_SAMPLE = 200  # points scored in the declared silhouette query


@query(
    "q_ml_silhouette",
    oracle=f"""
    WITH {sql_points()},
    {sql_centroids(K_DEFAULT)},
    {sql_assign(K_DEFAULT)},
    s AS (SELECT vec_id, vec, cluster_id FROM assign
          WHERE vec_id < {SIL_SAMPLE}),
    pd AS (
      SELECT a.vec_id AS i, a.cluster_id AS ci,
             b.cluster_id AS cj,
             list_distance(a.vec, b.vec) AS d
      FROM s a JOIN s b ON a.vec_id <> b.vec_id
    ),
    md AS (  -- mean distance from i to each cluster cj (exact decimal)
      SELECT i, ci, cj,
             cast(cast(sum(cast(d AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) / count(*) AS m
      FROM pd GROUP BY 1, 2, 3
    ),
    ab AS (
      SELECT i, ci,
             max(CASE WHEN cj = ci THEN m END) AS a,
             min(CASE WHEN cj <> ci THEN m END) AS b
      FROM md GROUP BY 1, 2
    )
    SELECT i AS vec_id, ci::INT AS cid,
           cast(cast(round(cast(cast((coalesce(a, 0.0)) AS VARCHAR)
                AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS a_intra,
           cast(cast(round(cast(cast((b) AS VARCHAR)
                AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS b_inter,
           cast(cast(round(cast(cast((
             CASE WHEN a IS NULL THEN 0.0
                  ELSE (b - a) / greatest(a, b) END) AS VARCHAR)
                AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS silhouette
    FROM ab
    """,
)
def q_ml_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silhouette scores (Rousseeuw 1987) for the deterministic
    nearest-centroid assignment, on the SIL_SAMPLE lowest-id points:
    a(i) = mean distance to own-cluster peers, b(i) = min over other
    clusters of the mean distance, s = (b−a)/max(a,b); singletons
    score 0 by the standard convention. The model-quality metric the
    reference's SSE objective (R6) cannot provide — SSE always
    improves with k, silhouette penalizes over-splitting.

    Determinism: per-cluster mean distances are exact DECIMAL(38,8)
    sums over the bit-matched distance pair; the min/ratio are single
    double expressions from identical inputs.

    Scale: exact silhouette is O(n²) by definition, so the declared
    query scores a bounded sample (the standard practice — sklearn's
    silhouette_score(sample_size=...) does the same); the pair block
    partitions by sample point. For full-corpus monitoring, the
    simplified silhouette (distance-to-centroid instead of mean
    pairwise) rides q_assign_nearest at O(n·k)."""
    pts = points_df(spark, sf_dir)
    a = assign(pts, centroids_df(spark, sf_dir)).filter(
        F.col("vec_id") < SIL_SAMPLE
    )
    sa = a.select("vec_id", "vec", "cluster_id")
    sb = a.select(
        F.col("vec_id").alias("j"),
        F.col("vec").alias("vb"),
        F.col("cluster_id").alias("cj"),
    )
    pd_ = (
        sa.join(sb, F.col("vec_id") != F.col("j"))
        .select(
            "vec_id",
            F.col("cluster_id").alias("ci"),
            "cj",
            euclidean(F.col("vec"), F.col("vb")).alias("d"),
        )
    )
    md = pd_.groupBy("vec_id", "ci", "cj").agg(
        (F.sum(F.col("d").cast(DEC)).cast("double") / F.count(F.lit(1))).alias("m")
    )
    ab = md.groupBy("vec_id", "ci").agg(
        F.max(F.when(F.col("cj") == F.col("ci"), F.col("m"))).alias("a"),
        F.min(F.when(F.col("cj") != F.col("ci"), F.col("m"))).alias("b"),
    )
    sil = F.when(F.col("a").isNull(), F.lit(0.0)).otherwise(
        (F.col("b") - F.col("a")) / F.greatest(F.col("a"), F.col("b"))
    )
    return ab.select(
        "vec_id",
        F.col("ci").cast("int").alias("cid"),
        dround(F.coalesce("a", F.lit(0.0))).alias("a_intra"),
        dround("b").alias("b_inter"),
        dround(sil).alias("silhouette"),
    )


ELBOW_KS = (2, 3, 4, 6, 8)  # k values swept by the elbow curve


def _elbow_oracle() -> str:
    parts = []
    ctes = [sql_points()]
    for k in ELBOW_KS:
        ctes.append(sql_centroids(k, name=f"ctr{k}"))
        ctes.append(sql_assign(k, name=f"as{k}", ctr=f"ctr{k}"))
        parts.append(
            f"SELECT {k} AS k, cast(cast(round(sum(cast(dist AS DECIMAL(38,8))), 4)"
            f" AS VARCHAR) AS DOUBLE) AS sse FROM as{k}"
        )
    return (
        "WITH " + ",\n    ".join(ctes) + "\n    " + " UNION ALL ".join(parts)
    )


@query("q_ml_elbow", oracle=_elbow_oracle())
def q_ml_elbow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elbow curve: the clustering objective (Σ min-distance, the
    reference's unsquared SSE — SURVEY.md Q4) for each k in ELBOW_KS
    under the deterministic k-lowest-id init — the "choose k"
    diagnostic that pairs with q_ml_silhouette (the objective always
    falls with k; the elbow and the silhouette peak locate the knee).

    Determinism: per-k objectives are exact DECIMAL(38,8) sums of the
    bit-matched distance argmin.

    Scale: each k is one broadcast-assign pass (narrow map + map-side
    combine); the k sweep shares the scan via a single union job and
    shuffles only k scalar partials. The monotone-decrease invariant
    is asserted in tests."""
    pts = points_df(spark, sf_dir)
    out = None
    for k in ELBOW_KS:
        a = assign(pts, centroids_df(spark, sf_dir, k=k))
        sse = a.agg(
            F.round(F.sum(F.col("dist").cast(DEC)), 4)
            .cast("double")
            .alias("sse")
        ).select(F.lit(k).alias("k"), "sse")
        out = sse if out is None else out.unionByName(sse)
    return out


KPP_K = 4       # centroids seeded by the k-means++ draw
KPP_SEED = 77   # LCG substream for the selection uniforms


def _kmeanspp_oracle() -> str:
    from spark_clustering_spark.functions.rng import py_lcg_uniform

    sel = ["SELECT 1 AS sel, 0 AS vec_id"]
    ctes = [
        sql_points(),
        "s1 AS (SELECT vec_id, vec FROM pts WHERE vec_id = 0)",
        """d1 AS (
      SELECT p.vec_id, p.vec,
             pow(list_distance(p.vec, s.vec), 2) AS md
      FROM pts p CROSS JOIN s1 s WHERE p.vec_id <> 0
    )""",
    ]
    for t in range(2, KPP_K + 1):
        u = py_lcg_uniform(t, seed=KPP_SEED)
        ctes.append(
            f"""c{t} AS (
      SELECT vec_id, vec, md,
             sum(cast(md AS DECIMAL(38,8))) OVER (ORDER BY vec_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM d{t - 1}
    ),
    s{t} AS (
      SELECT vec_id, vec FROM c{t}
      WHERE cast(cum AS DOUBLE) >= {u!r} * (SELECT cast(max(cum) AS DOUBLE)
                                            FROM c{t})
      ORDER BY vec_id LIMIT 1
    )"""
        )
        sel.append(f"SELECT {t} AS sel, vec_id FROM s{t}")
        if t < KPP_K:
            ctes.append(
                f"""d{t} AS (
      SELECT d.vec_id, d.vec,
             least(d.md, pow(list_distance(d.vec, s.vec), 2)) AS md
      FROM d{t - 1} d CROSS JOIN s{t} s WHERE d.vec_id <> s.vec_id
    )"""
            )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + " UNION ALL ".join(sel)


@query("q_ml_kmeanspp_init", oracle=_kmeanspp_oracle())
def q_ml_kmeanspp_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means++ seeding (Arthur & Vassilvitskii 2007) made fully
    deterministic: each next centroid is drawn with probability ∝ D²
    (squared distance to the nearest already-chosen centroid) using
    the portable integer-LCG uniform (functions/rng.py) against the
    vec_id-ordered D² CDF — the same wheel mechanics as the GKA
    roulette (R10), so BOTH engines replay the identical draw and the
    result hash-verifies. Complements the engine's deterministic
    k-lowest-id init (Q5) with the init that actually bounds expected
    SSE to O(log k)·optimal.

    Determinism: D² is sqrt-then-square of the bit-matched distance
    pair; the CDF accumulates EXACT DECIMAL(38,8) in both engines —
    invariant to accumulation grouping, so the two-pass slice/carry-in
    composition below is bit-identical to the oracle's sequential
    window — and the threshold compare happens on the identical
    double casts.

    Scale: each of the K−1 draws is one narrow min-update pass (the
    newest pick inlined as a literal, like q_sample_kcenter) + one
    ordered cumsum served by ``global_running_agg`` (literal slice
    cuts + per-slice carry-in — never a single-reducer window); the exact
    grand total comes back with the same per-slice partials, and the
    driver moves only k·d floats."""
    from spark_clustering_spark.functions.rng import py_lcg_uniform
    from spark_clustering_spark.operators.windows import global_running_agg

    pts = points_df(spark, sf_dir)
    seed_vec = pts.filter(F.col("vec_id") == 0).collect()[0]["vec"]
    out = [(1, 0)]
    sq = lambda vec_lit: F.pow(  # noqa: E731
        euclidean(F.col("vec"), vec_lit), F.lit(2)
    )
    d = pts.filter(F.col("vec_id") != 0).select(
        "vec_id", "vec", sq(F.array(*[F.lit(x) for x in seed_vec])).alias("md")
    )
    for t in range(2, KPP_K + 1):
        cums, totals = global_running_agg(
            d, [F.col("vec_id")], {"cum": ("sum", F.col("md").cast(DEC))}
        )
        u = py_lcg_uniform(t, seed=KPP_SEED) * float(totals["cum"])
        pick = (
            cums.filter(F.col("cum").cast("double") >= u)
            .orderBy("vec_id")
            .limit(1)
            .collect()[0]
        )
        out.append((t, pick["vec_id"]))
        if t < KPP_K:
            pv = F.array(*[F.lit(x) for x in pick["vec"]])
            d = d.filter(F.col("vec_id") != pick["vec_id"]).select(
                "vec_id", "vec", F.least(F.col("md"), sq(pv)).alias("md")
            )
    return spark.createDataFrame(out, "sel INT, vec_id BIGINT")


@query(
    "q_ml_davies_bouldin",
    oracle=f"""
    WITH {sql_points()},
    {sql_centroids(K_DEFAULT)},
    {sql_assign(K_DEFAULT)},
    scat AS (
      SELECT a.cluster_id AS cid,
             cast(cast(sum(cast(a.dist AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)
               / count(*) AS s
      FROM assign a GROUP BY 1
    ),
    ratios AS (
      SELECT i.cid, j.cid AS cj,
             (i.s + j.s) / list_distance(ci.cvec, cj2.cvec) AS r
      FROM scat i
      JOIN scat j ON j.cid <> i.cid
      JOIN ctr ci ON ci.cid = i.cid
      JOIN ctr cj2 ON cj2.cid = j.cid
    )
    SELECT cid,
           cast(cast(round(cast(cast((s.s) AS VARCHAR)
                AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS scatter,
           cast(cast(round(cast(cast((r.rmax) AS VARCHAR)
                AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS r_max
    FROM scat s
    JOIN (SELECT cid, max(r) AS rmax FROM ratios GROUP BY cid) r
      USING (cid)
    """,
)
def q_ml_davies_bouldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Davies–Bouldin components (Davies & Bouldin 1979) for the
    deterministic assignment: per-cluster scatter S_i (mean member
    distance to centroid) and R_i = max_j (S_i+S_j)/M_ij over
    centroid separations M — the index is mean(R_i), computable from
    these k rows. The O(n) quality metric (one assignment pass +
    k²-sized driver-free arithmetic), where exact silhouette is O(n²)
    — so THIS is the one a 100 TB monitoring job runs every refresh.

    Determinism: scatters are exact-decimal means over the bit-matched
    distance; separations and ratios are single double expressions.

    Scale: the only data-sized pass is the broadcast assignment
    (narrow + map-side combine to k partials); everything after is
    k²-row arithmetic."""
    pts = points_df(spark, sf_dir)
    ctr = centroids_df(spark, sf_dir)
    a = assign(pts, ctr)
    scat = a.groupBy(F.col("cluster_id").alias("cid")).agg(
        (
            F.sum(F.col("dist").cast(DEC)).cast("double") / F.count(F.lit(1))
        ).alias("s")
    )
    si = scat.select(F.col("cid"), F.col("s"))
    sj = scat.select(F.col("cid").alias("cj"), F.col("s").alias("sjv"))
    ci = ctr.select(F.col("cid"), F.col("cvec").alias("cvi"))
    cj = ctr.select(F.col("cid").alias("cj"), F.col("cvec").alias("cvj"))
    ratios = (
        si.join(sj, F.col("cid") != F.col("cj"))
        .join(F.broadcast(ci), "cid")
        .join(F.broadcast(cj), "cj")
        .select(
            "cid",
            (
                (F.col("s") + F.col("sjv"))
                / euclidean(F.col("cvi"), F.col("cvj"))
            ).alias("r"),
        )
    )
    rmax = ratios.groupBy("cid").agg(F.max("r").alias("rmax"))
    return si.join(rmax, "cid").select(
        "cid", dround("s").alias("scatter"), dround("rmax").alias("r_max")
    )


GMM_SIGMA2 = 4.0   # fixed spherical variance for the declared E-step
GMM_SAMPLE = 100   # points scored


@query(
    "q_ml_gmm_estep",
    oracle=f"""
    WITH {sql_points()},
    {sql_centroids(K_DEFAULT)},
    s AS (SELECT vec_id, vec FROM pts WHERE vec_id < {GMM_SAMPLE}),
    lik AS (
      SELECT s.vec_id, c.cid,
             exp(-pow(list_distance(s.vec, c.cvec), 2)
                 / (2.0 * {GMM_SIGMA2})) AS l
      FROM s CROSS JOIN ctr c
    ),
    den AS (
      SELECT vec_id,
             cast(cast(sum(cast(l AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) AS z
      FROM lik GROUP BY vec_id
    )
    SELECT l.vec_id, l.cid::INT AS cid,
           cast(cast(round(cast(cast((l.l / d.z) AS VARCHAR)
                AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS resp
    FROM lik l JOIN den d USING (vec_id)
    """,
)
def q_ml_gmm_estep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One E-step of a spherical, equal-weight Gaussian mixture over
    the deterministic centroids: responsibilities r_ik =
    exp(−d²/2σ²) / Σ_j exp(−d²/2σ²) — soft assignment, the EM
    counterpart of q_assign_nearest's hard argmin (and the bridge from
    k-means to GMM: as σ²→0 these converge to the one-hot argmin).

    Determinism: each likelihood is exp of one double (libm exp on
    identical inputs — bit-stable on this platform, like the logistic
    in q_text_score_udf); the softmax denominator accumulates in
    DECIMAL(38,18) so the k-term sum is order-proof; the final ratio
    is one double division.

    Scale: identical shape to hard assignment — broadcast k·d
    centroids, one narrow map emitting k responsibilities per point;
    the M-step that would follow is the same constant-state
    (cid, pos, partial) aggregate as q_centroid_update with r-weighted
    sums."""
    pts = points_df(spark, sf_dir)
    ctr = centroids_df(spark, sf_dir)
    s = pts.filter(F.col("vec_id") < GMM_SAMPLE)
    lik = s.crossJoin(F.broadcast(ctr)).select(
        "vec_id",
        "cid",
        F.exp(
            -F.pow(euclidean(F.col("vec"), F.col("cvec")), F.lit(2))
            / F.lit(2.0 * GMM_SIGMA2)
        ).alias("l"),
    )
    den = lik.groupBy("vec_id").agg(
        F.sum(F.col("l").cast("decimal(38,18)")).cast("double").alias("z")
    )
    return lik.join(den, "vec_id").select(
        "vec_id",
        F.col("cid").cast("int").alias("cid"),
        dround(F.col("l") / F.col("z"), 6).alias("resp"),
    )


@query(
    "q_ml_logreg_step",
    oracle=f"""
    WITH pts AS (
      SELECT CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y,
             ln(l_extendedprice / l_quantity) AS z
      FROM lineitem WHERE l_quantity > 0 AND l_extendedprice > 0
    ),
    s AS (
      SELECT count(*) AS n,
             sum(cast(z AS DECIMAL(38,8))) AS sz,
             sum(cast(z * z AS DECIMAL(38,8))) AS szz,
             sum(cast(y - 0.5 AS DECIMAL(38,8))) AS g0,
             sum(cast(z * (y - 0.5) AS DECIMAL(38,8))) AS g1,
             sum(cast(y AS DECIMAL(38,8))) AS npos
      FROM pts
    ),
    beta AS (
      SELECT n, cast(npos AS BIGINT) AS n_pos,
             4.0 * (cast(cast(szz AS VARCHAR) AS DOUBLE) * cast(cast(g0 AS VARCHAR) AS DOUBLE)
                    - cast(cast(sz AS VARCHAR) AS DOUBLE) * cast(cast(g1 AS VARCHAR) AS DOUBLE))
                 / (n * cast(cast(szz AS VARCHAR) AS DOUBLE)
                    - cast(cast(sz AS VARCHAR) AS DOUBLE) * cast(cast(sz AS VARCHAR) AS DOUBLE)) AS b0,
             4.0 * (n * cast(cast(g1 AS VARCHAR) AS DOUBLE)
                    - cast(cast(sz AS VARCHAR) AS DOUBLE) * cast(cast(g0 AS VARCHAR) AS DOUBLE))
                 / (n * cast(cast(szz AS VARCHAR) AS DOUBLE)
                    - cast(cast(sz AS VARCHAR) AS DOUBLE) * cast(cast(sz AS VARCHAR) AS DOUBLE)) AS b1
      FROM s
    ),
    ev AS (
      SELECT b.n, b.n_pos, b.b0, b.b1,
             sum(CASE WHEN (CASE WHEN b.b0 + b.b1 * p.z > 0
                            THEN 1.0 ELSE 0.0 END) = p.y
                      THEN 1 ELSE 0 END) AS n_correct
      FROM pts p CROSS JOIN beta b
      GROUP BY b.n, b.n_pos, b.b0, b.b1
    )
    SELECT cast(n AS BIGINT) AS n, n_pos,
           {sql_dround("b0", 6)} AS beta0,
           {sql_dround("b1", 6)} AS beta1,
           {sql_dround("cast(n_correct AS DOUBLE) / n", 6)} AS train_acc
    FROM ev
    """,
)
def q_ml_logreg_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact Newton–Raphson step of logistic regression, ENTIRELY
    in the engine: model P(returned) = σ(β₀ + β₁·ln unit price), start
    at β = 0 where the update has the closed form β = 4·(XᵀX)⁻¹·Xᵀ(y −
    ½) (at zero all σ' = ¼), evaluate training accuracy at the updated
    β in a second pass. The IRLS-as-aggregation pattern: every
    iteration of a GLM fit is sufficient statistics + a tiny
    driver-side solve — here d = 2 so even the solve inlines as
    closed-form SQL, making the whole training step oracle-replayable
    (the fit_* loops extend exactly this shape with broadcast betas).

    Determinism: the five sufficient statistics accumulate in exact
    DECIMAL(38,8) from identical per-row doubles; the 2×2 inverse is
    one algebraic expression; the accuracy threshold compares identical
    doubles (a tie needs β₀ + β₁z exactly 0 — measure-zero).

    Scale: two map-side-combined scans (statistics, then evaluation
    with the 2-double β broadcast as part of the plan). A d-feature
    production GLM keeps the same two-pass shape with a d² aggregate
    and a driver Cholesky — still no data-proportional state."""
    # spread(): see q_ml_calibration — one-task scans serialize both
    # heavy passes on a compacted input (guide §6).
    li = spread(
        table(spark, sf_dir, "lineitem")
        .filter((F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0))
        .select("l_returnflag", "l_quantity", "l_extendedprice")
    )
    pts = li.select(
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0).alias("y"),
        F.log(F.col("l_extendedprice") / F.col("l_quantity")).alias("z"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("z").cast(DEC)).alias("sz"),
        F.sum((F.col("z") * F.col("z")).cast(DEC)).alias("szz"),
        F.sum((F.col("y") - 0.5).cast(DEC)).alias("g0"),
        F.sum((F.col("z") * (F.col("y") - 0.5)).cast(DEC)).alias("g1"),
        F.sum(F.col("y").cast(DEC)).alias("npos"),
    )
    n = F.col("n")
    sz, szz = F.col("sz").cast("double"), F.col("szz").cast("double")
    g0, g1 = F.col("g0").cast("double"), F.col("g1").cast("double")
    det = n * szz - sz * sz
    beta = s.select(
        "n",
        F.col("npos").cast("bigint").alias("n_pos"),
        (4.0 * (szz * g0 - sz * g1) / det).alias("b0"),
        (4.0 * (n * g1 - sz * g0) / det).alias("b1"),
    )
    ev = (
        pts.crossJoin(F.broadcast(beta))
        .select(
            "n",
            "n_pos",
            "b0",
            "b1",
            F.when(
                F.when(
                    F.col("b0") + F.col("b1") * F.col("z") > 0, 1.0
                ).otherwise(0.0)
                == F.col("y"),
                1,
            )
            .otherwise(0)
            .alias("ok"),
        )
        .groupBy("n", "n_pos", "b0", "b1")
        .agg(F.sum("ok").alias("n_correct"))
    )
    return ev.select(
        F.col("n").cast("bigint").alias("n"),
        "n_pos",
        dround("b0", 6).alias("beta0"),
        dround("b1", 6).alias("beta1"),
        dround(F.col("n_correct").cast("double") / F.col("n"), 6).alias(
            "train_acc"
        ),
    )


RIDGE_LAMBDA = 50.0  # per-observation L2 penalty λ₀ (total λ = n·λ₀)


@query(
    "q_ml_ridge",
    oracle=f"""
    WITH pts AS (
      SELECT cast(l_quantity AS DOUBLE) AS x,
             cast(l_extendedprice AS DOUBLE) AS y
      FROM lineitem
    ),
    s AS (
      SELECT count(*) AS n,
             sum(cast(x AS DECIMAL(38,8))) AS sx,
             sum(cast(y AS DECIMAL(38,8))) AS sy,
             sum(cast(x * x AS DECIMAL(38,8))) AS sxx,
             sum(cast(x * y AS DECIMAL(38,8))) AS sxy,
             sum(cast(y * y AS DECIMAL(38,8))) AS syy
      FROM pts
    ),
    b AS (
      SELECT n,
             (n * cast(cast(sxy AS VARCHAR) AS DOUBLE)
              - cast(cast(sx AS VARCHAR) AS DOUBLE) * cast(cast(sy AS VARCHAR) AS DOUBLE)) AS cov_n,
             (n * cast(cast(sxx AS VARCHAR) AS DOUBLE)
              - cast(cast(sx AS VARCHAR) AS DOUBLE) * cast(cast(sx AS VARCHAR) AS DOUBLE)) AS var_n,
             (n * cast(cast(syy AS VARCHAR) AS DOUBLE)
              - cast(cast(sy AS VARCHAR) AS DOUBLE) * cast(cast(sy AS VARCHAR) AS DOUBLE)) AS vary_n,
             cast(cast(sx AS VARCHAR) AS DOUBLE) AS sxd, cast(cast(sy AS VARCHAR) AS DOUBLE) AS syd
      FROM s
    ),
    fit AS (
      SELECT n,
             cov_n / var_n AS b_ols,
             cov_n / (var_n + cast(n AS DOUBLE) * cast(n AS DOUBLE)
                      * {RIDGE_LAMBDA}) AS b_ridge,
             cov_n * cov_n / (var_n * vary_n) AS r2,
             sxd, syd
      FROM b
    )
    SELECT cast(n AS BIGINT) AS n,
           {sql_dround("b_ols", 6)} AS slope_ols,
           {sql_dround("b_ridge", 6)} AS slope_ridge,
           {sql_dround("(syd - b_ols * sxd) / n", 6)} AS intercept_ols,
           {sql_dround("(syd - b_ridge * sxd) / n", 6)} AS intercept_ridge,
           {sql_dround("r2", 6)} AS r2
    FROM fit
    """,
)
def q_ml_ridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form ridge regression (and its OLS twin) of extended
    price on quantity, ENTIRELY in the engine: one pass accumulates
    the six sufficient statistics (n, Σx, Σy, Σx², Σxy, Σy²) in exact
    DECIMAL(38,8); the 1-feature normal equation then inlines as
    closed-form arithmetic — slope = cov/(var + λ), intercept from the
    means, with the per-observation penalty λ₀={RIDGE_LAMBDA} scaled by
    n so the shrinkage is corpus-size-invariant. Reports both the OLS
    and ridge coefficients plus R², the regularization exhibit to
    q_ml_logreg_step's Newton step.

    Determinism: sufficient statistics are exact decimal sums of
    identical per-row doubles; every engine then evaluates the SAME
    fixed-order double expression on the SAME decimal-to-double
    conversions (IEEE round-to-nearest), so the coefficients agree to
    the last ulp before the 6dp rounding.

    Scale: one map-side-combined aggregate to 6 numbers — no shuffle of
    anything data-proportional, no window, no driver state beyond one
    row. A d-feature ridge keeps the shape with a d²-cell gram-matrix
    aggregate and a driver Cholesky solve."""
    li = table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_quantity").cast("double").alias("x"),
        F.col("l_extendedprice").cast("double").alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(DEC)).alias("sx"),
        F.sum(F.col("y").cast(DEC)).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(DEC)).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast(DEC)).alias("sxy"),
        F.sum((F.col("y") * F.col("y")).cast(DEC)).alias("syy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy = F.col("sxx").cast("double"), F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    b = s.select(
        "n",
        (n * sxy - sx * sy).alias("cov_n"),
        (n * sxx - sx * sx).alias("var_n"),
        (n * syy - sy * sy).alias("vary_n"),
        sx.alias("sxd"),
        sy.alias("syd"),
    )
    fit = b.select(
        "n",
        (F.col("cov_n") / F.col("var_n")).alias("b_ols"),
        (
            F.col("cov_n")
            / (
                F.col("var_n")
                + n.cast("double") * n.cast("double") * F.lit(RIDGE_LAMBDA)
            )
        ).alias("b_ridge"),
        (
            F.col("cov_n") * F.col("cov_n") / (F.col("var_n") * F.col("vary_n"))
        ).alias("r2"),
        "sxd",
        "syd",
    )
    return fit.select(
        F.col("n").cast("bigint").alias("n"),
        dround("b_ols", 6).alias("slope_ols"),
        dround("b_ridge", 6).alias("slope_ridge"),
        dround((F.col("syd") - F.col("b_ols") * F.col("sxd")) / n, 6).alias(
            "intercept_ols"
        ),
        dround(
            (F.col("syd") - F.col("b_ridge") * F.col("sxd")) / n, 6
        ).alias("intercept_ridge"),
        dround("r2", 6).alias("r2"),
    )


@query(
    "q_ml_gmm_mstep",
    oracle=f"""
    WITH {sql_points()},
    {sql_centroids(K_DEFAULT)},
    s AS (SELECT vec_id, vec FROM pts WHERE vec_id < {GMM_SAMPLE}),
    lik AS (
      SELECT s.vec_id, c.cid, s.vec,
             exp(-pow(list_distance(s.vec, c.cvec), 2)
                 / (2.0 * {GMM_SIGMA2})) AS l
      FROM s CROSS JOIN ctr c
    ),
    den AS (
      SELECT vec_id,
             cast(cast(sum(cast(l AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) AS z
      FROM lik GROUP BY vec_id
    ),
    resp AS (
      SELECT l.vec_id, l.cid, l.vec, l.l / d.z AS r
      FROM lik l JOIN den d USING (vec_id)
    ),
    dims AS (
      SELECT vec_id, cid, r,
             generate_subscripts(vec, 1) - 1 AS pos,
             unnest(vec) AS x
      FROM resp
    ),
    agg AS (
      SELECT cid, pos,
             sum(cast(r * x AS DECIMAL(38,12))) AS wx,
             sum(cast(r AS DECIMAL(38,12))) AS rsum
      FROM dims GROUP BY cid, pos
    ),
    n AS (SELECT count(*) AS n_pts FROM s)
    SELECT cid::INT AS cid, pos::INT AS pos,
           cast(cast(round(cast(cast(
             (cast(cast(wx AS VARCHAR) AS DOUBLE) / cast(cast(rsum AS VARCHAR) AS DOUBLE))
             AS VARCHAR) AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS mu_new,
           cast(cast(round(cast(cast(
             (cast(cast(rsum AS VARCHAR) AS DOUBLE) / n.n_pts)
             AS VARCHAR) AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS weight_new
    FROM agg CROSS JOIN n
    """,
)
def q_ml_gmm_mstep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The M-step completing q_ml_gmm_estep's EM pair: component means
    re-estimated as responsibility-weighted averages
    mu_k = SUM_i r_ik x_i / SUM_i r_ik and mixture weights
    w_k = SUM_i r_ik / N — soft-assignment counterpart of
    q_centroid_update's hard mean-by-key (reference R5,
    kmeans.java:124-164 generalized to fractional membership).

    Determinism: each r_ik x_i term is a double from identical inputs
    rounded into DECIMAL(38,12) before the order-ambiguous sums; the
    mean and weight are single double divisions of exact decimals.

    Scale: identical to the Lloyd update — broadcast k-row centroid
    state, one (cid, pos) keyed aggregate whose state is k*d partials
    regardless of data size; no data-proportional state anywhere."""
    pts = points_df(spark, sf_dir)
    ctr = centroids_df(spark, sf_dir)
    s = pts.filter(F.col("vec_id") < GMM_SAMPLE)
    lik = s.crossJoin(F.broadcast(ctr)).select(
        "vec_id",
        "cid",
        "vec",
        F.exp(
            -F.pow(euclidean(F.col("vec"), F.col("cvec")), F.lit(2))
            / F.lit(2.0 * GMM_SIGMA2)
        ).alias("l"),
    )
    den = lik.groupBy("vec_id").agg(
        F.sum(F.col("l").cast("decimal(38,18)")).cast("double").alias("z")
    )
    resp = lik.join(den, "vec_id").select(
        "vec_id", "cid", "vec", (F.col("l") / F.col("z")).alias("r")
    )
    dims = resp.select(
        "cid", "r", F.posexplode("vec").alias("pos", "x")
    )
    agg = dims.groupBy("cid", "pos").agg(
        F.sum((F.col("r") * F.col("x")).cast("decimal(38,12)")).alias("wx"),
        F.sum(F.col("r").cast("decimal(38,12)")).alias("rsum"),
    )
    n = s.agg(F.count(F.lit(1)).alias("n_pts"))
    return agg.crossJoin(F.broadcast(n)).select(
        F.col("cid").cast("int").alias("cid"),
        F.col("pos").cast("int").alias("pos"),
        dround(F.col("wx").cast("double") / F.col("rsum").cast("double"), 6).alias(
            "mu_new"
        ),
        dround(F.col("rsum").cast("double") / F.col("n_pts"), 6).alias("weight_new"),
    )


@query(
    "q_ml_gmm_loglik",
    oracle=f"""
    WITH {sql_points()},
    {sql_centroids(K_DEFAULT)},
    s AS (SELECT vec_id, vec FROM pts WHERE vec_id < {GMM_SAMPLE}),
    lik AS (
      SELECT s.vec_id,
             exp(-pow(list_distance(s.vec, c.cvec), 2)
                 / (2.0 * {GMM_SIGMA2})) AS l
      FROM s CROSS JOIN ctr c
    ),
    perpt AS (
      SELECT vec_id,
             ln(cast(cast(sum(cast(l AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE)
                / {K_DEFAULT}) AS ll
      FROM lik GROUP BY vec_id
    )
    SELECT count(*) AS n_points,
           cast(cast(round(sum(cast(ll AS DECIMAL(38,8))), 4) AS VARCHAR) AS DOUBLE)
             AS loglik,
           cast(cast(round(cast(cast(
             (cast(cast(sum(cast(ll AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) / count(*))
             AS VARCHAR) AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS avg_loglik
    FROM perpt
    """,
)
def q_ml_gmm_loglik(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The observed-data log-likelihood Σᵢ ln(Σₖ wₖ N(xᵢ|μₖ,σ²)) for
    the equal-weight spherical mixture — the EM convergence objective
    that q_ml_gmm_estep / q_ml_gmm_mstep iterate on (the soft twin of
    q_sse_objective, reference kmeans.java:186-191).

    Determinism: the inner k-term mixture sum accumulates in
    DECIMAL(38,18) (order-proof), ln of that is one double per point,
    and the outer point sum rounds each ln into DECIMAL(38,8) before
    accumulating — both order-ambiguous sums are exact.

    Scale: broadcast k·d centroids, one narrow pass, two-level
    aggregate whose state is one partial per partition."""
    pts = points_df(spark, sf_dir)
    ctr = centroids_df(spark, sf_dir)
    s = pts.filter(F.col("vec_id") < GMM_SAMPLE)
    lik = s.crossJoin(F.broadcast(ctr)).select(
        "vec_id",
        F.exp(
            -F.pow(euclidean(F.col("vec"), F.col("cvec")), F.lit(2))
            / F.lit(2.0 * GMM_SIGMA2)
        ).alias("l"),
    )
    perpt = lik.groupBy("vec_id").agg(
        F.log(
            F.sum(F.col("l").cast("decimal(38,18)")).cast("double")
            / F.lit(K_DEFAULT)
        ).alias("ll")
    )
    return perpt.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.sum(F.col("ll").cast("decimal(38,8)")), 4)
        .cast("double")
        .alias("loglik"),
        dround(
            F.sum(F.col("ll").cast("decimal(38,8)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_loglik"),
    )


ALS_LAMBDA = 0.1  # per-user L2 regularization in the ALS half-step


@query(
    "q_ml_als_step",
    oracle=f"""
    WITH r AS (
      SELECT o.o_custkey AS c,
             cast(l.l_quantity AS DOUBLE) AS r,
             1.0 + {sql_lcg_uniform('l.l_partkey', seed=101)} AS v1,
             1.0 + {sql_lcg_uniform('l.l_partkey', seed=202)} AS v2
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    s AS (
      -- each product is quantized through its VARCHAR (shortest-repr)
      -- form before the decimal cast: DuckDB's direct double->decimal
      -- rounds the EXACT binary expansion while Spark rounds the
      -- shortest string, and at sf10 a handful of the ~60M products
      -- straddle an 8dp tie (3 u-value flips in the r10 sweep); the
      -- pivot is detagg hazard-#2's documented cure
      SELECT c, count(*) AS n_items,
             cast(cast(sum((CASE WHEN abs(v1 * v1) < 5e-9 THEN cast(0 AS DECIMAL(38,8)) ELSE cast(cast(v1 * v1 AS VARCHAR) AS DECIMAL(38,8)) END)) AS VARCHAR) AS DOUBLE) AS s11,
             cast(cast(sum((CASE WHEN abs(v1 * v2) < 5e-9 THEN cast(0 AS DECIMAL(38,8)) ELSE cast(cast(v1 * v2 AS VARCHAR) AS DECIMAL(38,8)) END)) AS VARCHAR) AS DOUBLE) AS s12,
             cast(cast(sum((CASE WHEN abs(v2 * v2) < 5e-9 THEN cast(0 AS DECIMAL(38,8)) ELSE cast(cast(v2 * v2 AS VARCHAR) AS DECIMAL(38,8)) END)) AS VARCHAR) AS DOUBLE) AS s22,
             cast(cast(sum((CASE WHEN abs(r * v1) < 5e-9 THEN cast(0 AS DECIMAL(38,8)) ELSE cast(cast(r * v1 AS VARCHAR) AS DECIMAL(38,8)) END)) AS VARCHAR) AS DOUBLE) AS b1,
             cast(cast(sum((CASE WHEN abs(r * v2) < 5e-9 THEN cast(0 AS DECIMAL(38,8)) ELSE cast(cast(r * v2 AS VARCHAR) AS DECIMAL(38,8)) END)) AS VARCHAR) AS DOUBLE) AS b2
      FROM r GROUP BY c
    )
    SELECT c AS custkey, n_items,
           {sql_dround(
             "((s22 + " + str(ALS_LAMBDA) + ") * b1 - s12 * b2)"
             " / ((s11 + " + str(ALS_LAMBDA) + ") * (s22 + " + str(ALS_LAMBDA)
             + ") - s12 * s12)", 6)} AS u1,
           {sql_dround(
             "((s11 + " + str(ALS_LAMBDA) + ") * b2 - s12 * b1)"
             " / ((s11 + " + str(ALS_LAMBDA) + ") * (s22 + " + str(ALS_LAMBDA)
             + ") - s12 * s12)", 6)} AS u2
    FROM s
    """,
)
def q_ml_als_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact ALS half-step of a rank-2 matrix factorization of the
    customer × part quantity matrix: item factors are FIXED (a
    deterministic LCG function of the part key — no dimension join, no
    broadcast, the factor materializes map-side from the fact row
    itself), and every customer's factor solves its own ridge-regularized
    2×2 normal equations in closed form — the alternating-least-squares
    recommender primitive (Koren et al.), inverted so the per-user solve
    is pure aggregation + arithmetic instead of a driver loop.

    Determinism: item factors are exact dyadic doubles (LCG/2³¹), the
    five per-user sufficient statistics quantize each IEEE product to
    DECIMAL(38,8) before the exact sum, and the 2×2 solve is one
    fixed-order double expression — both engines agree to the ulp
    before the 6dp round.

    Scale: one co-partitioned fact join (lineitem ⋈ orders on
    orderkey), then one map-side-combined aggregate keyed custkey with
    5-number state — the full ALS iteration is this plan run twice
    (swapping the fixed side), each pass shuffling only k²+k doubles
    per entity. No window, no driver-side solve loop, no collect."""
    # spread() before the factor/statistic computation: a compacted
    # (single-row-group) input gives the scan ONE task, serializing the
    # LCG factors, the broadcast join AND the 6-decimal-sum partial
    # aggregate fused on top of it (guide §6 scan parallelism / §2.5
    # input skew). The narrow 3-column raw shuffle is the cheap part;
    # at scale the gate never fires.
    li = spread(
        table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity", "l_partkey"
        )
    ).select(
        "l_orderkey",
        F.col("l_quantity").cast("double").alias("r"),
        (1.0 + lcg_uniform("l_partkey", seed=101)).alias("v1"),
        (1.0 + lcg_uniform("l_partkey", seed=202)).alias("v2"),
    )
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), F.col("o_custkey").alias("c")
    )
    r = li.join(o, "l_orderkey")
    s = r.groupBy("c").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum((F.col("v1") * F.col("v1")).cast(DEC)).cast("double").alias("s11"),
        F.sum((F.col("v1") * F.col("v2")).cast(DEC)).cast("double").alias("s12"),
        F.sum((F.col("v2") * F.col("v2")).cast(DEC)).cast("double").alias("s22"),
        F.sum((F.col("r") * F.col("v1")).cast(DEC)).cast("double").alias("b1"),
        F.sum((F.col("r") * F.col("v2")).cast(DEC)).cast("double").alias("b2"),
    )
    lam = F.lit(ALS_LAMBDA)
    det = (F.col("s11") + lam) * (F.col("s22") + lam) - F.col("s12") * F.col(
        "s12"
    )
    return s.select(
        F.col("c").alias("custkey"),
        "n_items",
        dround(
            ((F.col("s22") + lam) * F.col("b1") - F.col("s12") * F.col("b2"))
            / det,
            6,
        ).alias("u1"),
        dround(
            ((F.col("s11") + lam) * F.col("b2") - F.col("s12") * F.col("b1"))
            / det,
            6,
        ).alias("u2"),
    )


CALIB_BINS = 10  # reliability-diagram resolution


@query(
    "q_ml_calibration",
    oracle=f"""
    WITH pts AS (
      SELECT CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y,
             ln(l_extendedprice / l_quantity) AS z
      FROM lineitem WHERE l_quantity > 0 AND l_extendedprice > 0
    ),
    s AS (
      SELECT count(*) AS n,
             sum(cast(z AS DECIMAL(38,8))) AS sz,
             sum(cast(z * z AS DECIMAL(38,8))) AS szz,
             sum(cast(y - 0.5 AS DECIMAL(38,8))) AS g0,
             sum(cast(z * (y - 0.5) AS DECIMAL(38,8))) AS g1
      FROM pts
    ),
    beta AS (
      SELECT 4.0 * (cast(cast(szz AS VARCHAR) AS DOUBLE) * cast(cast(g0 AS VARCHAR) AS DOUBLE)
                    - cast(cast(sz AS VARCHAR) AS DOUBLE) * cast(cast(g1 AS VARCHAR) AS DOUBLE))
                 / (n * cast(cast(szz AS VARCHAR) AS DOUBLE)
                    - cast(cast(sz AS VARCHAR) AS DOUBLE) * cast(cast(sz AS VARCHAR) AS DOUBLE)) AS b0,
             4.0 * (n * cast(cast(g1 AS VARCHAR) AS DOUBLE)
                    - cast(cast(sz AS VARCHAR) AS DOUBLE) * cast(cast(g0 AS VARCHAR) AS DOUBLE))
                 / (n * cast(cast(szz AS VARCHAR) AS DOUBLE)
                    - cast(cast(sz AS VARCHAR) AS DOUBLE) * cast(cast(sz AS VARCHAR) AS DOUBLE)) AS b1
      FROM s
    ),
    pred AS (
      SELECT p.y, 1.0 / (1.0 + exp(-(b.b0 + b.b1 * p.z))) AS sigma
      FROM pts p CROSS JOIN beta b
    ),
    binned AS (
      SELECT least(floor(sigma * {CALIB_BINS}), {CALIB_BINS - 1})::INT
               AS bin,
             count(*) AS n,
             cast(cast(sum(cast(sigma AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS ssig,
             sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS npos
      FROM pred GROUP BY 1
    )
    SELECT bin, n,
           {sql_dround("ssig / n", 6)} AS mean_predicted,
           {sql_dround("npos / cast(n AS DOUBLE)", 6)} AS observed_rate
    FROM binned
    """,
)
def q_ml_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram (calibration curve) for the one-step
    logistic model of q_ml_logreg_step: bin the predicted
    σ(β₀+β₁·ln unit price) into {CALIB_BINS} equal-width buckets and
    report mean predicted probability vs observed positive rate per
    bucket — the standard is-my-classifier-honest evaluation
    (well-calibrated ⇔ the two columns track). The β solve inlines as
    the same closed-form sufficient-statistics expression the logreg
    step hash-verifies.

    Determinism: β comes from exact decimal sums; σ is one
    fixed-order double expression per row; predicted-probability sums
    quantize to DECIMAL(38,12) before the per-bin division (bin
    accumulation order can't flap bits); a bin-boundary flip would
    need σ·{CALIB_BINS} to land exactly on an integer (measure-zero).

    Scale: two map-side-combined passes (sufficient statistics, then
    the binning aggregate with β inlined as plan literals via the
    broadcast one-row cross join) collapsing to ≤{CALIB_BINS} rows —
    the same two-pass shape as the logreg step itself."""
    # spread() before the ln/σ math: the compacted input's one-task
    # scan otherwise serializes BOTH heavy passes (statistics and the
    # binning aggregate) — guide §6 scan parallelism; the 3-column raw
    # shuffle is the cheap part and the gate never fires at scale.
    li = spread(
        table(spark, sf_dir, "lineitem")
        .filter((F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0))
        .select("l_returnflag", "l_quantity", "l_extendedprice")
    )
    pts = li.select(
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0).alias("y"),
        F.log(F.col("l_extendedprice") / F.col("l_quantity")).alias("z"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("z").cast(DEC)).alias("sz"),
        F.sum((F.col("z") * F.col("z")).cast(DEC)).alias("szz"),
        F.sum((F.col("y") - 0.5).cast(DEC)).alias("g0"),
        F.sum((F.col("z") * (F.col("y") - 0.5)).cast(DEC)).alias("g1"),
    )
    n = F.col("n")
    sz, szz = F.col("sz").cast("double"), F.col("szz").cast("double")
    g0, g1 = F.col("g0").cast("double"), F.col("g1").cast("double")
    det = n * szz - sz * sz
    beta = s.select(
        (4.0 * (szz * g0 - sz * g1) / det).alias("b0"),
        (4.0 * (n * g1 - sz * g0) / det).alias("b1"),
    )
    pred = pts.crossJoin(F.broadcast(beta)).select(
        "y",
        (
            1.0
            / (1.0 + F.exp(-(F.col("b0") + F.col("b1") * F.col("z"))))
        ).alias("sigma"),
    )
    binned = pred.groupBy(
        F.least(
            F.floor(F.col("sigma") * CALIB_BINS), F.lit(CALIB_BINS - 1)
        )
        .cast("int")
        .alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("sigma").cast("decimal(38,12)"))
        .cast("double")
        .alias("ssig"),
        F.sum(F.when(F.col("y") == 1.0, 1).otherwise(0)).alias("npos"),
    )
    return binned.select(
        "bin",
        "n",
        dround(F.col("ssig") / F.col("n"), 6).alias("mean_predicted"),
        dround(F.col("npos") / F.col("n").cast("double"), 6).alias(
            "observed_rate"
        ),
    )


KFOLD_K = 5      # cross-validation folds
KFOLD_SEED = 31  # LCG substream for fold assignment


@query(
    "q_ml_kfold",
    oracle=f"""
    WITH pts AS (
      SELECT cast(floor({sql_lcg_uniform(
          '(l_orderkey * 8 + l_linenumber)', seed=KFOLD_SEED)}
             * {KFOLD_K}) AS INT) AS fold,
             cast(l_quantity AS DOUBLE) AS x,
             cast(l_extendedprice AS DOUBLE) AS y
      FROM lineitem
    ),
    fs AS (
      SELECT fold, count(*) AS n,
             sum(cast(x AS DECIMAL(38,8))) AS sx,
             sum(cast(y AS DECIMAL(38,8))) AS sy,
             sum(cast(x * x AS DECIMAL(38,8))) AS sxx,
             sum(cast(x * y AS DECIMAL(38,8))) AS sxy
      FROM pts GROUP BY fold
    ),
    g AS (
      SELECT sum(n) AS n, sum(sx) AS sx, sum(sy) AS sy,
             sum(sxx) AS sxx, sum(sxy) AS sxy
      FROM fs
    ),
    tr AS (  -- leave-fold-out training stats: global minus fold (exact)
      SELECT fs.fold,
             (g.n - fs.n) AS n_train, fs.n AS n_test,
             cast(g.sx - fs.sx AS DOUBLE) AS tx,
             cast(g.sy - fs.sy AS DOUBLE) AS ty,
             cast(g.sxx - fs.sxx AS DOUBLE) AS txx,
             cast(g.sxy - fs.sxy AS DOUBLE) AS txy
      FROM fs CROSS JOIN g
    ),
    fit AS (
      SELECT fold, n_train, n_test,
             (n_train * txy - tx * ty) / (n_train * txx - tx * tx) AS b,
             tx, ty
      FROM tr
    ),
    fit2 AS (
      SELECT fold, n_train, n_test, b, (ty - b * tx) / n_train AS a
      FROM fit
    ),
    err AS (
      SELECT p.fold,
             sum(cast((p.y - (f.a + f.b * p.x))
                      * (p.y - (f.a + f.b * p.x))
                      AS DECIMAL(38,6))) AS sse
      FROM pts p JOIN fit2 f USING (fold)
      GROUP BY p.fold
    )
    SELECT f.fold, f.n_train::BIGINT AS n_train, f.n_test::BIGINT AS n_test,
           {sql_dround("f.b", 6)} AS slope,
           {sql_dround("f.a", 4)} AS intercept,
           {sql_dround("cast(e.sse AS DOUBLE) / f.n_test", 2)} AS test_mse
    FROM fit2 f JOIN err e USING (fold)
    """,
)
def q_ml_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KFOLD_K}-fold cross-validation of the price-on-quantity OLS
    fit, with the leave-fold-out trick: ONE pass accumulates per-fold
    sufficient statistics, and each fold's TRAINING statistics are the
    exact decimal difference global − fold — k models for the cost of
    one (no per-fold re-scan, the aggregation identity every
    distributed CV should exploit). A second pass scores each held-out
    fold under its own model (test MSE).

    Determinism: fold membership is the portable LCG of the row key;
    sums are exact decimals, so the subtraction is exact; each fold's
    (slope, intercept) and the per-row squared error quantize through
    the standard decimal discipline.

    Scale: two map-side-combined passes (k·5-number state, then the
    scoring aggregate with the k models attached via a broadcast
    k-row join). The same shape serves any GLM: per-fold gram
    matrices subtract the same way."""
    # spread(): see q_ml_calibration — one-task scans serialize both
    # heavy decimal passes on a compacted input (guide §6).
    li = spread(
        table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
        )
    )
    fold = F.floor(
        lcg_uniform(
            F.col("l_orderkey") * 8 + F.col("l_linenumber"), seed=KFOLD_SEED
        )
        * KFOLD_K
    ).cast("int")
    pts = li.select(
        fold.alias("fold"),
        F.col("l_quantity").cast("double").alias("x"),
        F.col("l_extendedprice").cast("double").alias("y"),
    )
    fs = pts.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(DEC)).alias("sx"),
        F.sum(F.col("y").cast(DEC)).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(DEC)).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast(DEC)).alias("sxy"),
    )
    g = fs.agg(
        F.sum("n").alias("gn"),
        F.sum("sx").alias("gsx"),
        F.sum("sy").alias("gsy"),
        F.sum("sxx").alias("gsxx"),
        F.sum("sxy").alias("gsxy"),
    )
    tr = fs.crossJoin(F.broadcast(g)).select(
        "fold",
        (F.col("gn") - F.col("n")).alias("n_train"),
        F.col("n").alias("n_test"),
        (F.col("gsx") - F.col("sx")).cast("double").alias("tx"),
        (F.col("gsy") - F.col("sy")).cast("double").alias("ty"),
        (F.col("gsxx") - F.col("sxx")).cast("double").alias("txx"),
        (F.col("gsxy") - F.col("sxy")).cast("double").alias("txy"),
    )
    nt = F.col("n_train")
    b = (nt * F.col("txy") - F.col("tx") * F.col("ty")) / (
        nt * F.col("txx") - F.col("tx") * F.col("tx")
    )
    fit = tr.select("fold", "n_train", "n_test", b.alias("b"), "tx", "ty")
    fit2 = fit.select(
        "fold",
        "n_train",
        "n_test",
        "b",
        ((F.col("ty") - F.col("b") * F.col("tx")) / nt).alias("a"),
    )
    err = (
        pts.join(F.broadcast(fit2.select("fold", "a", "b")), "fold")
        .select(
            "fold",
            (
                (F.col("y") - (F.col("a") + F.col("b") * F.col("x")))
                * (F.col("y") - (F.col("a") + F.col("b") * F.col("x")))
            )
            .cast("decimal(38,6)")
            .alias("e2"),
        )
        .groupBy("fold")
        .agg(F.sum("e2").alias("sse"))
    )
    return fit2.join(err, "fold").select(
        "fold",
        F.col("n_train").cast("bigint").alias("n_train"),
        F.col("n_test").cast("bigint").alias("n_test"),
        dround("b", 6).alias("slope"),
        dround("a", 4).alias("intercept"),
        dround(F.col("sse").cast("double") / F.col("n_test"), 2).alias(
            "test_mse"
        ),
    )


@query(
    "q_ml_auc",
    oracle="""
    WITH g AS (
      SELECT o_totalprice AS score, count(*) AS cnt,
             sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS pos
      FROM orders GROUP BY o_totalprice
    ),
    r AS (
      SELECT pos,
             2 * sum(cnt) OVER (ORDER BY score) - cnt + 1 AS m2
      FROM g
    ),
    t AS (
      SELECT sum(pos * m2) AS rs2, sum(pos) AS n1,
             (SELECT count(*) FROM orders) AS n
      FROM r
    )
    SELECT cast(cast(round(cast(
             (cast(rs2 AS DOUBLE) - cast(n1 AS DOUBLE) * (n1 + 1))
               / (2.0 * n1 * (n - n1))
             AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS auc,
           cast(n1 AS BIGINT) AS n_pos,
           cast(n - n1 AS BIGINT) AS n_neg
    FROM t
    """,
)
def q_ml_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of o_totalprice as a score for o_orderstatus = 'F',
    via the Mann-Whitney rank-sum identity with midranks for ties:
    AUC = (Σ_pos midrank − n₁(n₁+1)/2) / (n₁·n₀). The standard
    classifier-evaluation aggregate the reference's metrics sink (R20)
    never had — and the canonical "global rank without a global sort"
    exercise.

    Determinism: everything up to the final division is exact integer
    arithmetic — 2·midrank = 2·cum − cnt + 1 is a BIGINT, the rank-sum
    accumulates Σ pos·m2 in DECIMAL(38,0) (DuckDB promotes to
    HUGEINT), so AUC is ONE double division in both engines, then
    dround(6).

    Scale: scores are first collapsed by groupBy (map-side combine);
    the global cumulative count over distinct scores is served by
    ``global_running_agg`` (literal slice cuts + per-slice carry-in —
    never a single-reducer Window.orderBy); the final agg is one
    narrow pass to a single row."""
    from spark_clustering_spark.operators.windows import global_running_agg

    o = table(spark, sf_dir, "orders")
    g = o.groupBy(F.col("o_totalprice").alias("score")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
        ).alias("pos"),
    )
    r, _ = global_running_agg(
        g, [F.col("score")], {"cum": ("sum", F.col("cnt"))}
    )
    m2 = 2 * F.col("cum") - F.col("cnt") + 1
    t = r.select(
        (F.col("pos") * m2).cast("decimal(38,0)").alias("pm2"),
        "pos",
        "cnt",
    ).agg(
        F.sum("pm2").alias("rs2"),
        F.sum("pos").alias("n1"),
        F.sum("cnt").alias("n"),
    )
    rs2 = F.col("rs2").cast("double")
    n1, n = F.col("n1"), F.col("n")
    return t.select(
        dround(
            (rs2 - n1.cast("double") * (n1 + 1)) / (2.0 * n1 * (n - n1)), 6
        ).alias("auc"),
        n1.cast("bigint").alias("n_pos"),
        (n - n1).cast("bigint").alias("n_neg"),
    )


@query(
    "q_ml_confusion",
    oracle="""
    WITH pts AS (
      SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
             ln(l_extendedprice / l_quantity) AS z
      FROM lineitem WHERE l_quantity > 0 AND l_extendedprice > 0
    ),
    thr AS (
      SELECT cast(cast(sum(cast(z AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) / count(*) AS mz
      FROM pts
    ),
    cm AS (
      SELECT
        sum(CASE WHEN y = 1 AND z >= mz THEN 1 ELSE 0 END) AS tp,
        sum(CASE WHEN y = 0 AND z >= mz THEN 1 ELSE 0 END) AS fp,
        sum(CASE WHEN y = 1 AND z < mz THEN 1 ELSE 0 END) AS fn,
        sum(CASE WHEN y = 0 AND z < mz THEN 1 ELSE 0 END) AS tn
      FROM pts CROSS JOIN thr
    )
    SELECT cast(tp AS BIGINT) AS tp, cast(fp AS BIGINT) AS fp,
           cast(fn AS BIGINT) AS fn, cast(tn AS BIGINT) AS tn,
           {PREC} AS precision_, {REC} AS recall_, {F1} AS f1
    FROM cm
    """.replace("{PREC}", sql_dround("tp / cast(tp + fp AS DOUBLE)", 6))
    .replace("{REC}", sql_dround("tp / cast(tp + fn AS DOUBLE)", 6))
    .replace(
        "{F1}", sql_dround("2.0 * tp / cast(2 * tp + fp + fn AS DOUBLE)", 6)
    ),
)
def q_ml_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix + precision/recall/F1 for the mean-threshold
    stump classifier pred = (z ≥ mean z) on the same ln-unit-price
    feature / returnflag label as q_ml_logreg_step: the eval
    counterpart to q_ml_calibration's reliability diagram. (The
    one-step logistic's σ ≥ 0.5 point degenerates to all-negative on
    this data — a 0-denominator precision — so the declared operating
    point is the mean split, which always partitions the data.)

    Determinism: the threshold is an exact DECIMAL(38,8) sum divided
    once (the identical expression q_ml_calibration hash-verifies for
    its β); the boundary compare is one double compare; tp/fp/fn/tn
    are exact integers, so precision/recall/F1 are each ONE double
    division (F1 uses the 2·tp/(2·tp+fp+fn) identity — no compounded
    p·r/(p+r) rounding).

    Scale: two map-side-combined passes (the threshold statistic, then
    the confusion aggregate with the threshold inlined via a broadcast
    one-row cross join) collapsing to a single row."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)
    )
    pts = li.select(
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
        F.log(F.col("l_extendedprice") / F.col("l_quantity")).alias("z"),
    )
    thr = pts.agg(
        (
            F.sum(F.col("z").cast(DEC)).cast("double") / F.count(F.lit(1))
        ).alias("mz")
    )
    hit = F.col("z") >= F.col("mz")
    cm = pts.crossJoin(F.broadcast(thr)).agg(
        F.sum(F.when((F.col("y") == 1) & hit, 1).otherwise(0)).alias("tp"),
        F.sum(F.when((F.col("y") == 0) & hit, 1).otherwise(0)).alias("fp"),
        F.sum(F.when((F.col("y") == 1) & ~hit, 1).otherwise(0)).alias("fn"),
        F.sum(F.when((F.col("y") == 0) & ~hit, 1).otherwise(0)).alias("tn"),
    )
    tp, fp = F.col("tp").cast("double"), F.col("fp")
    fn, tn = F.col("fn"), F.col("tn")
    return cm.select(
        F.col("tp").cast("bigint").alias("tp"),
        fp.cast("bigint").alias("fp"),
        fn.cast("bigint").alias("fn"),
        tn.cast("bigint").alias("tn"),
        dround(tp / (tp + fp), 6).alias("precision_"),
        dround(tp / (tp + fn), 6).alias("recall_"),
        dround(2.0 * tp / (2.0 * tp + fp + fn), 6).alias("f1"),
    )


STUMP_BINS_PER_UNIT = 16  # ln-unit-price resolution: 1/16-nat bins


@query(
    "q_ml_decision_stump",
    oracle=f"""
    WITH pts AS (
      SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
             ln(l_extendedprice / l_quantity) AS z
      FROM lineitem WHERE l_quantity > 0 AND l_extendedprice > 0
    ),
    b AS (
      SELECT cast(floor(z * {STUMP_BINS_PER_UNIT}.0) AS BIGINT) AS bin,
             count(*) AS cnt, sum(y) AS pos
      FROM pts GROUP BY 1
    ),
    tot AS (SELECT sum(cnt) AS n, sum(pos) AS p FROM b),
    r AS (
      SELECT bin,
             sum(cnt) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nl,
             sum(pos) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pl,
             n, p
      FROM b CROSS JOIN tot
    ),
    sc AS (
      SELECT bin, nl, pl, n - nl AS nr, p - pl AS pr,
             cast(pl * pl + (nl - pl) * (nl - pl) AS DOUBLE) / nl
               + cast((p - pl) * (p - pl)
                      + ((n - nl) - (p - pl)) * ((n - nl) - (p - pl))
                      AS DOUBLE) / (n - nl) AS score
      FROM r WHERE n - nl > 0
    )
    SELECT cast(bin AS INT) AS split_bin,
           cast(nl AS BIGINT) AS n_left, cast(pl AS BIGINT) AS pos_left,
           cast(nr AS BIGINT) AS n_right, cast(pr AS BIGINT) AS pos_right,
           cast(cast(round(cast(score AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS score
    -- qualified: the bare name would bind the ROUNDED output alias
    FROM sc ORDER BY sc.score DESC, bin LIMIT 1
    """,
)
def q_ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal 1-D decision stump: bin the ln-unit-price feature into
    fixed-width 1/16-nat buckets, sweep every bin boundary as a split
    candidate, and return the split maximizing Σ_side (pos² + neg²)/n
    — the exact-rational equivalent of minimizing weighted Gini
    impurity (weighted Gini = 1 − score/n). The single boosting-round
    / tree-node primitive on the same (y, z) pair the logreg and
    calibration queries model.

    Determinism: per-bin counts are exact integers; the score is two
    integer-exact squared-sum numerators each through ONE double
    division, summed in fixed left+right order — bit-identical across
    engines; the argmax tie-breaks on bin ASC, so even a bit-equal tie
    resolves identically.

    Scale: one map-side-combined groupBy collapses the fact table to
    ≤ a few hundred occupied bins; the boundary sweep is a window over
    that bounded bin table (provably tiny input — the documented
    exception to the no-unpartitioned-window rule), and the argmax is
    a LIMIT 1 over the same bounded set."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)
    )
    pts = li.select(
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
        F.log(F.col("l_extendedprice") / F.col("l_quantity")).alias("z"),
    )
    b = pts.groupBy(
        F.floor(F.col("z") * float(STUMP_BINS_PER_UNIT))
        .cast("bigint")
        .alias("bin")
    ).agg(F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("pos"))
    tot = b.agg(F.sum("cnt").alias("n"), F.sum("pos").alias("p"))
    w = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = (
        b.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            F.sum("cnt").over(w).alias("nl"),
            F.sum("pos").over(w).alias("pl"),
            "n",
            "p",
        )
        .filter(F.col("n") - F.col("nl") > 0)
    )
    nl, pl = F.col("nl"), F.col("pl")
    nr, pr = F.col("n") - nl, F.col("p") - pl
    score = (pl * pl + (nl - pl) * (nl - pl)).cast("double") / nl + (
        pr * pr + (nr - pr) * (nr - pr)
    ).cast("double") / nr
    sc = r.select(
        F.col("bin").cast("int").alias("split_bin"),
        nl.cast("bigint").alias("n_left"),
        pl.cast("bigint").alias("pos_left"),
        nr.cast("bigint").alias("n_right"),
        pr.cast("bigint").alias("pos_right"),
        score.alias("_raw_score"),
    )
    return (
        sc.orderBy(F.col("_raw_score").desc(), F.col("split_bin"))
        .limit(1)
        .select(
            "split_bin",
            "n_left",
            "pos_left",
            "n_right",
            "pos_right",
            dround("_raw_score", 6).alias("score"),
        )
    )


GAINS_DECILES = 10  # gains/lift curve resolution


@query(
    "q_ml_gains_curve",
    oracle=f"""
    WITH s AS (
      SELECT o_orderkey, o_totalprice AS score,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    d AS (
      SELECT y, ntile({GAINS_DECILES}) OVER (ORDER BY score DESC,
                                             o_orderkey) AS decile
      FROM s
    ),
    g AS (
      SELECT decile, count(*) AS n, sum(y) AS np
      FROM d GROUP BY decile
    ),
    c AS (
      SELECT decile, n, np,
             sum(n) OVER (ORDER BY decile) AS cn,
             sum(np) OVER (ORDER BY decile) AS cnp,
             (SELECT sum(y) FROM s) AS tp,
             (SELECT count(*) FROM s) AS tn
      FROM g
    )
    SELECT decile::INT AS decile, n::BIGINT AS n, np::BIGINT AS n_pos,
           {{CUM}} AS cum_pos_share, {{LIFT}} AS lift
    FROM c
    """.replace(
        "{CUM}", sql_dround("cast(cnp AS DOUBLE) / tp", 6)
    ).replace(
        "{LIFT}",
        sql_dround("cast(cnp * tn AS DOUBLE) / (cast(cn AS DOUBLE) * tp)", 6),
    ),
)
def q_ml_gains_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains / lift curve for the o_totalprice →
    orderstatus-F score (the q_ml_auc pair): rank all rows by score
    descending into {GAINS_DECILES} exact deciles, then per decile the
    cumulative share of positives captured and the lift over random
    targeting — with AUC, calibration, and the confusion matrix this
    completes the standard binary-classifier eval suite (gains is the
    business-facing one: 'the top 20% of the list holds X% of the
    actives').

    Determinism: deciles come from the exact ntile machinery
    (hash-verified by q_window_ntile); counts are exact integers; each
    share/lift is one fixed-order double expression on exact integer
    products.

    Scale: the decile assignment runs through ``ntile_scalable``
    (literal slice cuts + carry-in ranks — never a single-reducer
    ORDER BY over the data); everything after operates on
    {GAINS_DECILES} rows."""
    from spark_clustering_spark.operators.windows import ntile_scalable

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").alias("score"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    d = ntile_scalable(
        o,
        [F.col("score").desc(), F.col("o_orderkey")],
        n_tiles=GAINS_DECILES,
        out_col="decile",
    )
    g = d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("np")
    )
    tot = g.agg(
        F.sum("n").alias("tn"), F.sum("np").alias("tp")
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = g.crossJoin(F.broadcast(tot)).select(
        "decile",
        "n",
        "np",
        F.sum("n").over(w).alias("cn"),
        F.sum("np").over(w).alias("cnp"),
        "tn",
        "tp",
    )
    return c.select(
        F.col("decile").cast("int").alias("decile"),
        F.col("n").cast("bigint").alias("n"),
        F.col("np").cast("bigint").alias("n_pos"),
        dround(F.col("cnp").cast("double") / F.col("tp"), 6).alias(
            "cum_pos_share"
        ),
        dround(
            (F.col("cnp") * F.col("tn")).cast("double")
            / (F.col("cn").cast("double") * F.col("tp")),
            6,
        ).alias("lift"),
    )


@query(
    "q_ml_ari_stability",
    oracle=f"""
    WITH {sql_points()},
    {sql_centroids(K_DEFAULT)},
    ctr2 AS (SELECT vec_id AS cid, vec AS cvec FROM pts
             WHERE vec_id % 2 = 0 ORDER BY vec_id LIMIT {K_DEFAULT}),
    {sql_assign(K_DEFAULT, name="a1")},
    {sql_assign(K_DEFAULT, name="a2", ctr="ctr2")},
    cont AS (
      SELECT a1.cluster_id AS ca, a2.cluster_id AS cb, count(*) AS nij
      FROM a1 JOIN a2 ON a2.vec_id = a1.vec_id
      GROUP BY 1, 2
    ),
    sums AS (
      SELECT sum(nij * (nij - 1) / 2) AS sij, sum(nij) AS n FROM cont
    ),
    ra AS (
      SELECT sum(ai * (ai - 1) / 2) AS sa FROM (
        SELECT sum(nij) AS ai FROM cont GROUP BY ca)
    ),
    rb AS (
      SELECT sum(bj * (bj - 1) / 2) AS sb FROM (
        SELECT sum(nij) AS bj FROM cont GROUP BY cb)
    ),
    t AS (
      SELECT cast(s.sij AS DOUBLE) AS sij,
             cast(ra.sa AS DOUBLE) AS sa, cast(rb.sb AS DOUBLE) AS sb,
             cast(s.n * (s.n - 1) / 2 AS DOUBLE) AS c2n,
             s.n AS n
      FROM sums s CROSS JOIN ra CROSS JOIN rb
    )
    SELECT cast(n AS BIGINT) AS n,
           cast(sij AS BIGINT) AS pair_agreements,
           cast(cast(round(cast(cast((
             (sij - sa * sb / c2n)
               / ((sa + sb) / 2.0 - sa * sb / c2n)
           ) AS VARCHAR) AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS ari
    FROM t
    """,
)
def q_ml_ari_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-stability audit: the Adjusted Rand Index between the
    assignments produced by two deterministic inits (the k lowest
    vec_ids vs the k lowest EVEN vec_ids) — the standard
    is-the-clustering-real probe (ARI ≈ 1: structure is robust to
    init; ARI ≈ 0: the 'clusters' are init artifacts), and the natural
    companion to q_ml_elbow/q_ml_silhouette for the reference's
    multi-restart workflow (R21: num_run restarts exist precisely
    because initialization matters).

    Determinism: both assignments are the hash-verified R4 argmin on
    bit-matched distances; contingency/pair counts are exact integers;
    ARI is one fixed-order double expression over them.

    Scale: two broadcast-argmin passes over the data (each one narrow
    pass, the q_assign_nearest plan), a k×k contingency aggregate, and
    constant-size arithmetic — driver state never exceeds k·d."""
    pts = points_df(spark, sf_dir)
    c1 = centroids_df(spark, sf_dir, K_DEFAULT)
    c2 = (
        pts.filter(F.col("vec_id") % 2 == 0)
        .orderBy("vec_id")
        .limit(K_DEFAULT)
        .select(F.col("vec_id").alias("cid"), F.col("vec").alias("cvec"))
    )
    a1 = assign(pts, c1).select("vec_id", F.col("cluster_id").alias("ca"))
    a2 = assign(pts, c2).select("vec_id", F.col("cluster_id").alias("cb"))
    cont = (
        a1.join(a2, "vec_id")
        .groupBy("ca", "cb")
        .agg(F.count(F.lit(1)).alias("nij"))
    )
    nij = F.col("nij")
    sums = cont.agg(
        F.sum(nij * (nij - 1) / 2).cast("bigint").alias("sij"),
        F.sum(nij).alias("n"),
    )
    ra = (
        cont.groupBy("ca")
        .agg(F.sum("nij").alias("ai"))
        .agg(
            F.sum(F.col("ai") * (F.col("ai") - 1) / 2)
            .cast("bigint")
            .alias("sa")
        )
    )
    rb = (
        cont.groupBy("cb")
        .agg(F.sum("nij").alias("bj"))
        .agg(
            F.sum(F.col("bj") * (F.col("bj") - 1) / 2)
            .cast("bigint")
            .alias("sb")
        )
    )
    t = sums.crossJoin(F.broadcast(ra)).crossJoin(F.broadcast(rb))
    sij = F.col("sij").cast("double")
    sa, sb = F.col("sa").cast("double"), F.col("sb").cast("double")
    n = F.col("n")
    c2n = (n * (n - 1) / 2).cast("double")
    return t.select(
        n.cast("bigint").alias("n"),
        F.col("sij").cast("bigint").alias("pair_agreements"),
        dround(
            (sij - sa * sb / c2n) / ((sa + sb) / 2.0 - sa * sb / c2n), 6
        ).alias("ari"),
    )


@query(
    "q_ml_cluster_purity",
    oracle=f"""
    WITH pts0 AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings
    ),
    pts AS (SELECT vec_id, vec FROM pts0),
    {sql_centroids(K_DEFAULT)},
    {sql_assign(K_DEFAULT)},
    cl AS (
      SELECT a.cluster_id, p.label, count(*) AS nij
      FROM assign a JOIN pts0 p ON p.vec_id = a.vec_id
      GROUP BY 1, 2
    ),
    per AS (
      SELECT cluster_id, sum(nij) AS n_points, max(nij) AS n_major,
             min(label) FILTER (
               WHERE nij = (SELECT max(c2.nij) FROM cl c2
                            WHERE c2.cluster_id = cl.cluster_id)
             ) AS major_label
      FROM cl GROUP BY cluster_id
    )
    SELECT cluster_id,
           cast(n_points AS BIGINT) AS n_points,
           cast(major_label AS BIGINT) AS major_label,
           cast(n_major AS BIGINT) AS n_major,
           cast(cast(round(cast(cast((
             cast(n_major AS DOUBLE) / n_points
           ) AS VARCHAR) AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS purity
    FROM per
    """,
)
def q_ml_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster purity against the ground-truth labels: per cluster of
    the deterministic k={K_DEFAULT} assignment, the majority label
    (ties → smallest label), its count, and purity = majority share —
    the do-my-clusters-mean-anything external-validity check that
    pairs with q_ml_ari_stability's internal one (high ARI + low
    purity = stable clusters that ignore the labels; both high = the
    metric structure IS the label structure).

    Determinism: the assignment is the hash-verified R4 argmin;
    contingency counts are exact integers; the majority tie-breaks on
    min label; purity is one double division.

    Scale: one broadcast-argmin pass, a k×|labels| contingency
    aggregate, and a k-row rollup — the q_assign_nearest plan plus
    bounded arithmetic."""
    pts = points_df(spark, sf_dir)
    labels = table(spark, sf_dir, "embeddings").select("vec_id", "label")
    a = assign(pts, centroids_df(spark, sf_dir, K_DEFAULT)).select(
        "vec_id", "cluster_id"
    )
    cl = (
        a.join(labels, "vec_id")
        .groupBy("cluster_id", "label")
        .agg(F.count(F.lit(1)).alias("nij"))
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("nij").desc(), F.col("label")
    )
    ranked = cl.select(
        "cluster_id",
        "label",
        "nij",
        F.row_number().over(w).alias("rn"),
        F.sum("nij")
        .over(Window.partitionBy("cluster_id"))
        .alias("n_points"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "cluster_id",
        F.col("n_points").cast("bigint").alias("n_points"),
        F.col("label").cast("bigint").alias("major_label"),
        F.col("nij").cast("bigint").alias("n_major"),
        dround(
            F.col("nij").cast("double") / F.col("n_points"), 6
        ).alias("purity"),
    )


@query(
    "q_ml_vmeasure",
    oracle=f"""
    WITH pts0 AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings
    ),
    pts AS (SELECT vec_id, vec FROM pts0),
    {sql_centroids(K_DEFAULT)},
    {sql_assign(K_DEFAULT)},
    cont AS (
      SELECT a.cluster_id AS ci, p.label AS lj, count(*) AS nij
      FROM assign a JOIN pts0 p ON p.vec_id = a.vec_id
      GROUP BY 1, 2
    ),
    tot AS (SELECT sum(nij) AS n FROM cont),
    ai AS (SELECT ci, sum(nij) AS a FROM cont GROUP BY ci),
    bj AS (SELECT lj, sum(nij) AS b FROM cont GROUP BY lj),
    hck AS (
      SELECT cast(cast(sum(cast(
        (cast(c.nij AS DOUBLE) / t.n)
          * cast(round(cast(ln(cast(c.nij AS DOUBLE) / ai.a)
                 AS DECIMAL(38,12)), 6) AS DECIMAL(38,6))
        AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS v
      FROM cont c JOIN ai ON ai.ci = c.ci CROSS JOIN tot t
    ),
    hkc AS (
      SELECT cast(cast(sum(cast(
        (cast(c.nij AS DOUBLE) / t.n)
          * cast(round(cast(ln(cast(c.nij AS DOUBLE) / bj.b)
                 AS DECIMAL(38,12)), 6) AS DECIMAL(38,6))
        AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS v
      FROM cont c JOIN bj ON bj.lj = c.lj CROSS JOIN tot t
    ),
    hc AS (
      SELECT cast(cast(sum(cast(
        (cast(b.b AS DOUBLE) / t.n)
          * cast(round(cast(ln(cast(b.b AS DOUBLE) / t.n)
                 AS DECIMAL(38,12)), 6) AS DECIMAL(38,6))
        AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS v
      FROM bj b CROSS JOIN tot t
    ),
    hk AS (
      SELECT cast(cast(sum(cast(
        (cast(a.a AS DOUBLE) / t.n)
          * cast(round(cast(ln(cast(a.a AS DOUBLE) / t.n)
                 AS DECIMAL(38,12)), 6) AS DECIMAL(38,6))
        AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS v
      FROM ai a CROSS JOIN tot t
    ),
    hv AS (
      SELECT (1.0 - hck.v / hc.v) AS h, (1.0 - hkc.v / hk.v) AS c
      FROM hck CROSS JOIN hkc CROSS JOIN hc CROSS JOIN hk
    )
    SELECT {{H}} AS homogeneity, {{C}} AS completeness, {{V}} AS v_measure
    FROM hv
    """.replace("{H}", sql_dround("h", 6))
    .replace("{C}", sql_dround("c", 6))
    .replace("{V}", sql_dround("2.0 * h * c / (h + c)", 6)),
)
def q_ml_vmeasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V-measure (homogeneity / completeness / their harmonic mean)
    of the deterministic k={K_DEFAULT} clustering against the ground
    truth: h = 1 − H(label|cluster)/H(label), c = 1 −
    H(cluster|label)/H(cluster) — with q_ml_ari_stability (pairwise)
    and q_ml_cluster_purity (majority) this completes the external
    clustering-validation trio, and unlike purity it punishes
    splitting a label across clusters.

    Determinism: every entropy term's ln is taken on a ratio of exact
    integers and quantized to a 6-dp DECIMAL before the
    order-ambiguous weighted sum (the JVM-vs-libm ln rule; note the
    negations cancel in the ratios so signs never flip); h, c, v are
    fixed-order double expressions.

    Scale: one broadcast-argmin pass, a k×|labels| contingency, and
    constant-size entropy arithmetic."""
    pts = points_df(spark, sf_dir)
    labels = table(spark, sf_dir, "embeddings").select("vec_id", "label")
    a = assign(pts, centroids_df(spark, sf_dir, K_DEFAULT)).select(
        "vec_id", "cluster_id"
    )
    # tiny k x labels table, 4 readers
    cont = pin(
        a.join(labels, "vec_id")
        .groupBy(F.col("cluster_id").alias("ci"), F.col("label").alias("lj"))
        .agg(F.count(F.lit(1)).alias("nij"))
    )
    tot = cont.agg(F.sum("nij").alias("n"))
    ai = cont.groupBy("ci").agg(F.sum("nij").alias("a"))
    bj = cont.groupBy("lj").agg(F.sum("nij").alias("b"))

    def lnq(x):
        return F.round(F.log(x).cast("decimal(38,12)"), 6).cast(
            "decimal(38,6)"
        )

    def ent_sum(df, weight, ratio):
        return df.agg(
            F.sum((weight * lnq(ratio)).cast("decimal(38,12)"))
            .cast("double")
            .alias("v")
        )

    nij = F.col("nij").cast("double")
    n = F.col("n")
    hck = ent_sum(
        cont.join(F.broadcast(ai), "ci").crossJoin(F.broadcast(tot)),
        nij / n,
        nij / F.col("a"),
    )
    hkc = ent_sum(
        cont.join(F.broadcast(bj), "lj").crossJoin(F.broadcast(tot)),
        nij / n,
        nij / F.col("b"),
    )
    hc = ent_sum(
        bj.crossJoin(F.broadcast(tot)),
        F.col("b").cast("double") / n,
        F.col("b").cast("double") / n,
    )
    hk = ent_sum(
        ai.crossJoin(F.broadcast(tot)),
        F.col("a").cast("double") / n,
        F.col("a").cast("double") / n,
    )
    hv = (
        hck.select(F.col("v").alias("vck"))
        .crossJoin(hkc.select(F.col("v").alias("vkc")))
        .crossJoin(hc.select(F.col("v").alias("vc")))
        .crossJoin(hk.select(F.col("v").alias("vk")))
        .select(
            (1.0 - F.col("vck") / F.col("vc")).alias("h"),
            (1.0 - F.col("vkc") / F.col("vk")).alias("c"),
        )
    )
    return hv.select(
        dround("h", 6).alias("homogeneity"),
        dround("c", 6).alias("completeness"),
        dround(
            2.0 * F.col("h") * F.col("c") / (F.col("h") + F.col("c")), 6
        ).alias("v_measure"),
    )


LC_BUCKETS = 8            # learning-curve subset resolution
LC_FRACS = (1, 2, 4, 6)   # train buckets out of 8 (test = rest)
LC_SEED = 47              # LCG substream for subset assignment


@query(
    "q_ml_learning_curve",
    oracle=f"""
    WITH pts AS (
      SELECT cast(floor({sql_lcg_uniform(
          '(l_orderkey * 8 + l_linenumber)', seed=LC_SEED)}
             * {LC_BUCKETS}) AS INT) AS bucket,
             cast(l_quantity AS DOUBLE) AS x,
             cast(l_extendedprice AS DOUBLE) AS y
      FROM lineitem
    ),
    bs AS (
      SELECT bucket, count(*) AS n,
             sum(cast(x AS DECIMAL(38,8))) AS sx,
             sum(cast(y AS DECIMAL(38,8))) AS sy,
             sum(cast(x * x AS DECIMAL(38,8))) AS sxx,
             sum(cast(x * y AS DECIMAL(38,8))) AS sxy,
             sum(cast(y * y AS DECIMAL(38,8))) AS syy
      FROM pts GROUP BY bucket
    ),
    fr AS (
      SELECT t,
             sum(CASE WHEN bucket < t THEN n ELSE 0 END) AS n_tr,
             cast(sum(CASE WHEN bucket < t THEN sx ELSE 0 END)
               AS DOUBLE) AS tx,
             cast(sum(CASE WHEN bucket < t THEN sy ELSE 0 END)
               AS DOUBLE) AS ty,
             cast(sum(CASE WHEN bucket < t THEN sxx ELSE 0 END)
               AS DOUBLE) AS txx,
             cast(sum(CASE WHEN bucket < t THEN sxy ELSE 0 END)
               AS DOUBLE) AS txy,
             sum(CASE WHEN bucket >= t THEN n ELSE 0 END) AS n_te,
             cast(sum(CASE WHEN bucket >= t THEN sx ELSE 0 END)
               AS DOUBLE) AS ex,
             cast(sum(CASE WHEN bucket >= t THEN sy ELSE 0 END)
               AS DOUBLE) AS ey,
             cast(sum(CASE WHEN bucket >= t THEN sxx ELSE 0 END)
               AS DOUBLE) AS exx,
             cast(sum(CASE WHEN bucket >= t THEN sxy ELSE 0 END)
               AS DOUBLE) AS exy,
             cast(sum(CASE WHEN bucket >= t THEN syy ELSE 0 END)
               AS DOUBLE) AS eyy
      FROM bs CROSS JOIN unnest([{", ".join(str(t) for t in LC_FRACS)}])
        AS u(t)
      GROUP BY t
    ),
    fit AS (
      SELECT t, n_tr, n_te, ex, ey, exx, exy, eyy,
             (n_tr * txy - tx * ty) / (n_tr * txx - tx * tx) AS b,
             (ty - (n_tr * txy - tx * ty) / (n_tr * txx - tx * tx) * tx)
               / n_tr AS a
      FROM fr
    )
    SELECT t::INT AS train_buckets,
           cast(n_tr AS BIGINT) AS n_train,
           cast(n_te AS BIGINT) AS n_test,
           cast(cast(round(cast(cast((b) AS VARCHAR) AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS slope,
           cast(cast(round(cast(cast((a) AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS intercept,
           cast(cast(round(cast(cast((
             (eyy - 2.0 * a * ey - 2.0 * b * exy + 2.0 * a * b * ex
              + n_te * a * a + b * b * exx) / n_te
           ) AS VARCHAR) AS DECIMAL(38,12)), 2) AS VARCHAR) AS DOUBLE) AS test_mse
    FROM fit
    """,
)
def q_ml_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learning curve from ONE pass: OLS (quantity → price) trained on
    nested {{1,2,4,6}}/8 LCG-bucket subsets, evaluated on each
    subset's complement — held-out MSE as a function of training-set
    size, the does-more-data-help diagnostic every data-acquisition
    decision hinges on. The whole curve is CLOSED FORM: per-bucket
    sufficient statistics (now including Σy²) make both the fit AND
    the held-out SSE pure arithmetic — SSE_test = Σy² − 2aΣy − 2bΣxy
    + 2abΣx + n·a² + b²Σx² — so no second data pass ever happens
    (one better than q_ml_kfold's scoring join).

    Determinism: bucket assignment is the portable integer LCG;
    per-bucket sums are exact decimals; every downstream number is a
    fixed-order double expression over ≤{LC_BUCKETS} exact partials.

    Scale: ONE map-side-combined pass to {LC_BUCKETS}×6 partials;
    the frac expansion and closed forms are constant-size."""
    # spread(): see q_ml_calibration — the one heavy decimal pass runs
    # on the single scan task of a compacted input (guide §6).
    li = spread(
        table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
        )
    )
    pts = li.select(
        F.floor(
            lcg_uniform(
                F.col("l_orderkey") * 8 + F.col("l_linenumber"),
                seed=LC_SEED,
            )
            * LC_BUCKETS
        )
        .cast("int")
        .alias("bucket"),
        F.col("l_quantity").cast("double").alias("x"),
        F.col("l_extendedprice").cast("double").alias("y"),
    )
    bs = pts.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(DEC)).alias("sx"),
        F.sum(F.col("y").cast(DEC)).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(DEC)).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast(DEC)).alias("sxy"),
        F.sum((F.col("y") * F.col("y")).cast(DEC)).alias("syy"),
    )
    fr = (
        bs.crossJoin(
            F.broadcast(
                li.sparkSession.createDataFrame(
                    [(t,) for t in LC_FRACS], "t INT"
                )
            )
        )
        .groupBy("t")
        .agg(
            F.sum(F.when(F.col("bucket") < F.col("t"), F.col("n")).otherwise(0)).alias("n_tr"),
            F.sum(F.when(F.col("bucket") < F.col("t"), F.col("sx"))).cast("double").alias("tx"),
            F.sum(F.when(F.col("bucket") < F.col("t"), F.col("sy"))).cast("double").alias("ty"),
            F.sum(F.when(F.col("bucket") < F.col("t"), F.col("sxx"))).cast("double").alias("txx"),
            F.sum(F.when(F.col("bucket") < F.col("t"), F.col("sxy"))).cast("double").alias("txy"),
            F.sum(F.when(F.col("bucket") >= F.col("t"), F.col("n")).otherwise(0)).alias("n_te"),
            F.sum(F.when(F.col("bucket") >= F.col("t"), F.col("sx"))).cast("double").alias("ex"),
            F.sum(F.when(F.col("bucket") >= F.col("t"), F.col("sy"))).cast("double").alias("ey"),
            F.sum(F.when(F.col("bucket") >= F.col("t"), F.col("sxx"))).cast("double").alias("exx"),
            F.sum(F.when(F.col("bucket") >= F.col("t"), F.col("sxy"))).cast("double").alias("exy"),
            F.sum(F.when(F.col("bucket") >= F.col("t"), F.col("syy"))).cast("double").alias("eyy"),
        )
    )
    n_tr = F.col("n_tr")
    b = (n_tr * F.col("txy") - F.col("tx") * F.col("ty")) / (
        n_tr * F.col("txx") - F.col("tx") * F.col("tx")
    )
    fit = fr.select(
        "t", "n_tr", "n_te", "ex", "ey", "exx", "exy", "eyy",
        b.alias("b"),
        ((F.col("ty") - b * F.col("tx")) / n_tr).alias("a"),
    )
    a, bb = F.col("a"), F.col("b")
    n_te = F.col("n_te")
    sse = (
        F.col("eyy")
        - 2.0 * a * F.col("ey")
        - 2.0 * bb * F.col("exy")
        + 2.0 * a * bb * F.col("ex")
        + n_te * a * a
        + bb * bb * F.col("exx")
    )
    return fit.select(
        F.col("t").cast("int").alias("train_buckets"),
        n_tr.cast("bigint").alias("n_train"),
        n_te.cast("bigint").alias("n_test"),
        dround("b", 6).alias("slope"),
        dround("a", 4).alias("intercept"),
        dround(sse / n_te, 2).alias("test_mse"),
    )
