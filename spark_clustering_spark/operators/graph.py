"""Graph analytics over relational data — PageRank on the bilateral
trade graph.

Complements the dedup connected-components pass (pipeline/dedup.py):
where components answer "which docs form one duplicate group", rank
answers "which nodes matter". The iteration is the classic
Pregel-in-DataFrames shape — contributions flow along edges (one
edges-sized shuffle per step), ranks are node-cardinality state — with
every step's floats made accumulation-order-proof by the detagg
discipline so the whole unrolled iteration hash-verifies in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_clustering_spark.functions.detagg import dround, sql_dround
from spark_clustering_spark.io import artifact, pin, shuffle_width, table
from spark_clustering_spark.registry import query

PR_DAMPING = 0.85
PR_ITERS = 2  # unrolled steps in the declared query

# Broadcast-plan gate for the wedge family (guide §3.1): below this
# edge count the oriented-edge / adjacency tables ship as broadcast
# hash relations (2M packed edges ≈ 32 MB serialized — comfortably
# inside a standard executor) and every wedge-sized join runs map-side
# with zero wedge-stream exchanges; above it the count-derived
# repartition plans keep the spill-safe shuffle path (the sf10 regime).
# Packing (u,v) into one BIGINT puts the probes on Spark's single-long
# LongHashedRelation fast path (measured on the triangle closure at
# sf0.1: 2.5 s vs 10.8 s for the composite-key repartition plan over
# the same 49M wedges). Packing is lossless only for ids in [0, 2^31);
# _bcast_path_ok() ENFORCES that bound at runtime (ADVICE r11: the
# gate bounds edge COUNT, not id magnitude — a future hashed/negative
# id domain must fall back to the shuffle path, not silently collide).
EDGE_BCAST_MAX = 2_000_000
_PK = 1 << 32  # (u,v) → u*2^32 + v single-long pair key


def _edge_stats(
    spark: SparkSession, sf_dir: str, cap: int | None
) -> tuple[int, int, int]:
    """(n_edges, min_id, max_id) of ``basket_edges(spark, sf_dir, cap)``:
    one aggregate job per (scope, cap), stored in the session-artifact
    store beside the edges it describes (io.artifact), so the wedge
    consumers of one edge set share it and it goes when the edges go."""

    def build():
        row = basket_edges(spark, sf_dir, cap).agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.least("u", "v")).alias("mn"),
            F.max(F.greatest("u", "v")).alias("mx"),
        ).collect()[0]
        return (
            int(row["n"]),
            int(row["mn"]) if row["mn"] is not None else 0,
            int(row["mx"]) if row["mx"] is not None else 0,
        )

    return artifact(spark, sf_dir, ("edge_stats", cap), build)


def _bcast_path_ok(spark: SparkSession, sf_dir: str, cap: int | None) -> bool:
    """Gate for the broadcast small path over ``basket_edges(spark,
    sf_dir, cap)``: bounded edge count AND ids packable into the
    single-long (u,v) key (non-negative, < 2^31). Out-of-range ids route
    to the shuffle path, which never packs."""
    n, mn, mx = _edge_stats(spark, sf_dir, cap)
    return n <= EDGE_BCAST_MAX and mn >= 0 and mx < (1 << 31)


def basket_edges(spark: SparkSession, sf_dir: str, cap: int | None = None):
    """DISTINCT part co-purchase edges (u < v): parts adjacent iff some
    order contains both; ``cap`` keeps only baskets with ≤cap distinct
    parts (the focused-basket rule of q_graph_jaccard_linkpred) or None
    for the full graph. Built once per (application, sf_dir, cap) into
    the session-artifact store (io.artifact) as a pinned frame (io.pin):
    eight graph operators share the exact same fact-sized edge build,
    so every consumer reads the pinned shuffle output instead of
    re-scanning lineitem, and the pin is unpersisted with the
    rest of its scope when another sf_dir's artifact is stored."""
    return artifact(
        spark, sf_dir, ("edges", cap), lambda: _build_edges(spark, sf_dir, cap)
    )


def _build_edges(spark: SparkSession, sf_dir: str, cap: int | None) -> DataFrame:
    li = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    if cap is not None:
        small = (
            li.groupBy("o")
            .agg(F.count(F.lit(1)).alias("bsz"))
            .filter(F.col("bsz") <= cap)
        )
        li = li.join(small.select("o"), "o")
    a = li.select("o", F.col("p").alias("u"))
    b = li.select("o", F.col("p").alias("v"))
    # Pre-partition the pair stream on the dedup key BEFORE distinct —
    # but only above a fact-count threshold: without the explicit
    # exchange the planner puts a partial hash aggregate in the join
    # stage, and at sf10 the 32 concurrent full-keyspace maps exceed
    # the 16 GB local-JVM execution pool (PERF round-8 needed a 48g
    # override). Behind the explicit hash exchange, the aggregate runs
    # on one key-slice per task; width derives from the fact count so
    # per-task key cardinality stays bounded at ANY scale factor (and
    # AQE never coalesces a user-specified repartition). Below the
    # threshold (sf<=1) the partial aggregate fits comfortably and the
    # extra exchange + eager materialization is pure tax — round-9's
    # sf0.1 graph-family regression (modularity 0.52→1.17 s) — so the
    # small path keeps the planner's own placement. (io.pin computes
    # the small path's edges eagerly too; that half of the round-9
    # cause was not re-measured.) Same rows out either way — dedup
    # placement is an execution detail.
    # Threshold 10M (ADVICE r10): sf1 lineitem is ~6.0M rows and ran
    # green on the planner-placed path for rounds 6-8, so it belongs on
    # the small path; the 16 GB-pool blowup the heavy path cures was
    # only ever observed at sf10 (~60M rows).
    n_li = table(spark, sf_dir, "lineitem").count()  # parquet-metadata fast
    pairs = a.join(b, "o").filter(F.col("u") < F.col("v")).select("u", "v")
    if n_li >= 10_000_000:
        width = min(4096, shuffle_width(spark, n_li, 250_000))
        return pin(pairs.repartition(width, "u", "v").distinct())
    else:
        # Small path: planner-placed dedup. Its few-partition layout
        # (AQE-coalesced) is DELIBERATELY kept: widening the shared
        # pin to the core count was measured to tax every cheap
        # consumer with 32-way task overhead (kcore 3.0→4.7 s,
        # assortativity 1.6→2.3 s at sf0.1); the wedge queries that DO
        # amplify work per edge spread their probe stream locally via
        # _wedge_spread() instead.
        return pin(pairs.distinct())


def _wedge_spread(df: DataFrame) -> DataFrame:
    """Round-robin the wedge probe stream across the cluster before a
    map-side (broadcast) wedge build. The shared edge pin keeps
    its small AQE-coalesced layout (cheap consumers pay no extra task
    overhead), but a fused wedge build amplifies each probe row into
    O(d) wedge rows — at sf0.1 a 25M+ row stream that otherwise runs
    on the pin's 4-10 partitions (VERDICT r11 item 1: jaccard's
    8-vs-32-core scaling ratio was 1.0 because every sf≤1 parquet is a
    single row group and all pre-aggregation exchanges were removed).
    Width = cluster parallelism — scale-adaptive, not a local[32]
    constant; round-robin, not hash-on-center, so hot centers spread
    across tasks (guide §2.5 skew / §6 scan parallelism)."""
    spark = df.sparkSession
    return df.repartition(spark.sparkContext.defaultParallelism)


def _pagerank_sql() -> str:
    d = PR_DAMPING
    steps = []
    prev = "r0"
    for t in range(1, PR_ITERS + 1):
        steps.append(f"""c{t} AS (
      SELECT e.dst AS node,
             cast(cast(sum(cast(r.r * (cast(e.w AS DOUBLE) / o.tw)
                  AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS m
      FROM e JOIN outw o ON o.src = e.src
             JOIN {prev} r ON r.node = e.src
      GROUP BY e.dst
    ),
    g{t} AS (  -- rank mass sitting on dangling (no-out-edge) nodes
      SELECT coalesce(cast(cast(sum(cast(p.r AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE), 0.0)
               AS dm
      FROM {prev} p LEFT JOIN outw o ON o.src = p.node
      WHERE o.src IS NULL
    ),
    r{t} AS (
      SELECT p.node,
             {1 - d} / p.N + {d} * (coalesce(c{t}.m, 0.0) + g{t}.dm / p.N)
               AS r,
             p.N
      FROM {prev} p LEFT JOIN c{t} ON c{t}.node = p.node CROSS JOIN g{t}
    )""")
        prev = f"r{t}"
    steps_sql = ",\n    ".join(steps)
    return f"""
    WITH e AS (
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst, count(*) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2
    ),
    outw AS (SELECT src, sum(w) AS tw FROM e GROUP BY src),
    r0 AS (
      SELECT n_nationkey AS node,
             1.0 / (SELECT count(*) FROM nation) AS r,
             (SELECT count(*) FROM nation) AS N
      FROM nation
    ),
    {steps_sql}
    SELECT nt.n_name AS nation,
           cast(cast(round(cast(cast((f.r) AS VARCHAR)
                AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS rank
    FROM r{PR_ITERS} f JOIN nation nt ON nt.n_nationkey = f.node
    """


@query("q_graph_pagerank", oracle=_pagerank_sql())
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the nation trade graph (supplier nation →
    customer nation, edge weight = lineitem count between them),
    PR_ITERS unrolled power steps at damping {PR_DAMPING}:
    r_v ← (1−d)/N + d·Σ_u r_u·w_uv/W_u. The "which market is
    structurally central" analytic — and the declared stand-in for the
    general DataFrame Pregel loop (same shape as the distributed
    min-label propagation in pipeline/dedup.connected_components).

    Determinism: edge weights and out-weights are integer counts; each
    contribution r·(w/W) is a single double expression rounded into
    DECIMAL(38,8) before the per-node sum (detagg), so every step's
    ranks are bit-identical in both engines. Dangling (no-out-edge)
    nodes redistribute their rank mass uniformly each step — the
    standard correction, so ranks stay a probability distribution
    (Σr = 1, asserted in tests) on any graph, including the tiny-SF
    slices where most nations have no suppliers.

    Scale: the edge build is the only fact-sized pass (Q7's join
    chain pre-aggregated to |nations|² edges). Each iteration then
    shuffles edges-cardinality contributions and keeps node-
    cardinality rank state — at web scale, partition edges by src and
    broadcast-or-copartition the rank vector; iterations are constant-
    state exactly like the fit kernels (ml/kernels.py)."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    e = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    # |nations|^2 edges at most -- pin them so the unrolled iterations
    # don't re-run the fact-sized join chain per step
    e = pin(e)
    outw = e.groupBy("src").agg(F.sum("w").alias("tw"))
    n_nodes = n.count()  # 25-row dimension; a driver scalar by design
    r = n.select(
        F.col("n_nationkey").alias("node"),
        (F.lit(1.0) / n_nodes).alias("r"),
    )
    for _ in range(PR_ITERS):
        contrib = (
            e.join(F.broadcast(outw), "src")
            .join(F.broadcast(r), F.col("src") == F.col("node"))
            .select(
                "dst",
                (
                    F.col("r") * (F.col("w").cast("double") / F.col("tw"))
                ).cast("decimal(38,8)").alias("t"),
            )
            .groupBy("dst")
            .agg(F.sum("t").cast("double").alias("m"))
        )
        dang = (
            r.join(outw, r["node"] == outw["src"], "left_anti")
            .agg(
                F.coalesce(
                    F.sum(F.col("r").cast("decimal(38,8)")).cast("double"),
                    F.lit(0.0),
                ).alias("dm")
            )
        )
        r = (
            r.select("node")
            .join(F.broadcast(contrib), F.col("node") == F.col("dst"), "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                (
                    F.lit((1 - PR_DAMPING) / n_nodes)
                    + PR_DAMPING
                    * (F.coalesce("m", F.lit(0.0)) + F.col("dm") / n_nodes)
                ).alias("r"),
            )
        )
    return r.join(F.broadcast(n), r["node"] == n["n_nationkey"]).select(
        F.col("n_name").alias("nation"), dround("r", 6).alias("rank")
    )


def _triangles_sql() -> str:
    return """
    WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e AS (
      SELECT DISTINCT a.p AS u, b.p AS v
      FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p
    ),
    deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
      ) GROUP BY node
    ),
    o AS (
      SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                  THEN u ELSE v END AS s,
             CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                  THEN v ELSE u END AS t
      FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
    ),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM o o1 JOIN o o2 ON o2.s = o1.t
                JOIN o o3 ON o3.s = o1.s AND o3.t = o2.t
    ),
    w AS (SELECT sum(d * (d - 1) // 2) AS n_wedges FROM deg)
    SELECT (SELECT count(*) FROM deg) AS n_nodes,
           (SELECT count(*) FROM e) AS n_edges,
           tri.n_triangles,
           cast(cast(round(cast(cast((3.0 * tri.n_triangles / w.n_wedges)
                AS VARCHAR) AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE)
             AS clustering_coeff
    FROM tri CROSS JOIN w
    """


@query("q_graph_triangles", oracle=_triangles_sql())
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the part
    co-purchase graph (parts are adjacent iff some order contains
    both). Algorithm: degree-ordered edge orientation — every edge
    points from its (degree, id)-smaller endpoint, making the graph a
    DAG in which each triangle survives as EXACTLY one wedge s→t→t2
    closed by s→t2 — then one self-join to enumerate wedges and one
    more to close them. This is the standard scalable formulation
    (node-iterator++ / MPC triangle counting): out-degrees under the
    orientation are O(sqrt(m)) regardless of skew, so no reducer ever
    sees a star hub's full neighborhood, unlike the naive
    all-neighbors join.

    Scale: the only fact-sized pass builds distinct per-order part
    sets; edges/wedges shuffle on part keys (hash joins all the way —
    no window, no single reducer); the node-cardinality degree table
    broadcasts. The wedge-closure joins repartition by a count-derived
    width (~75k edges per task): with a fixed partition count the
    wedge stream sort-spills as the graph grows — measured 19.15x wall
    at 16x edges on a fixed 32 partitions vs 10.8x with the scaled
    width (PERF.md, round 5 triangle growth). AQE can only coalesce, never
    split, so the width must come from the data. Output is one audit
    row (counts + coefficient)."""
    e = basket_edges(spark, sf_dir)  # cached pin, reused by deg + 3 join sides
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
    o = pin(  # read by the 3 join sides below
        e.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
    )
    n_edges_m = _edge_stats(spark, sf_dir, None)[0]  # stored beside the edges
    if _bcast_path_ok(spark, sf_dir, None):
        # broadcast closure: the oriented edge list ships twice (wedge
        # build side keyed s, closure side packed (s,t)); wedges stream
        # through both probes map-side and collapse into per-task count
        # partials — the 49M-row wedge stream never crosses an exchange
        # (guide §2.4/§3.1; 21.9 s → measured 2.5 s closure at sf0.1).
        o1 = _wedge_spread(o.select(F.col("s").alias("x"), F.col("t").alias("y")))
        o2 = o.select(F.col("s").alias("y"), F.col("t").alias("z"))
        o3k = o.select(
            (F.col("s").cast("bigint") * _PK + F.col("t")).alias("xz")
        )
        tri = (
            o1.join(F.broadcast(o2), "y")
            .select((F.col("x").cast("bigint") * _PK + F.col("z")).alias("xz"))
            .join(F.broadcast(o3k), "xz")
            .agg(F.count(F.lit(1)).alias("n_triangles"))
        )
    else:
        width = shuffle_width(spark, n_edges_m, 75_000)  # ~75k edges per task
        o1 = o.select(F.col("s").alias("x"), F.col("t").alias("y")).repartition(
            width, "y"
        )
        o2 = o.select(F.col("s").alias("y"), F.col("t").alias("z")).repartition(
            width, "y"
        )
        o3 = o.select(F.col("s").alias("x"), F.col("t").alias("z")).repartition(
            width, "x", "z"
        )
        wedges_j = o1.join(o2, "y").repartition(width, "x", "z")
        tri = wedges_j.join(o3, ["x", "z"]).agg(
            F.count(F.lit(1)).alias("n_triangles")
        )
    wedges = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint").alias("n_wedges")
    )
    counts = e.agg(
        F.count(F.lit(1)).alias("n_edges"),
    ).crossJoin(deg.agg(F.count(F.lit(1)).alias("n_nodes")))
    return (
        tri.crossJoin(F.broadcast(wedges))
        .crossJoin(F.broadcast(counts))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            dround(
                3.0 * F.col("n_triangles") / F.col("n_wedges"), 6
            ).alias("clustering_coeff"),
        )
    )


REACH_HOPS = 3  # bounded-depth reachability horizon


def _reachability_sql() -> str:
    return f"""
    WITH RECURSIVE e AS (
      SELECT DISTINCT s.s_nationkey AS src, c.c_nationkey AS dst
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE s.s_nationkey <> c.c_nationkey
    ),
    r AS (
      SELECT src, dst, 1 AS hops FROM e
      UNION ALL
      SELECT r.src, e.dst, r.hops + 1
      FROM r JOIN e ON e.src = r.dst
      WHERE r.hops < {REACH_HOPS} AND e.dst <> r.src
    ),
    best AS (
      SELECT src, dst, min(hops) AS min_hops FROM r GROUP BY src, dst
    )
    SELECT n.n_name AS src_nation,
           count(*) AS n_reachable,
           cast(sum(CASE WHEN min_hops = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS direct,
           min(min_hops)::INT AS nearest,
           max(min_hops)::INT AS farthest
    FROM best b JOIN nation n ON n.n_nationkey = b.src
    GROUP BY n.n_name
    """


@query("q_graph_reachability", oracle=_reachability_sql())
def q_graph_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth reachability — the engine's recursive-CTE
    equivalent: which nations can a supplier nation's goods reach
    through at most {REACH_HOPS} trade hops, with min-hop distances.
    The DuckDB oracle IS a recursive CTE; Spark has none, so the
    frontier expands by UNROLLED iterative joins with a min-hops
    reduction — the standard bounded-BFS-in-DataFrames shape (same
    family as the PageRank loop and the dedup components fixpoint,
    here over the relational tables as a declared SQL-checked surface).

    Scale: the fact-sized pass builds the DISTINCT nation edge list
    once (then <=|nations|² rows); each hop is one equi hash join of
    frontier x edges with a groupBy min — frontier state is bounded by
    (nodes x nodes), never path-enumerated (the oracle's UNION ALL
    enumerates paths, fine at 25 nodes; the DataFrame side reduces to
    min-hops per frontier PER HOP, which is what survives 100 TB)."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    # <=|nations|^2 rows, reused per hop
    e = pin(
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .select(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .distinct()
    )
    # bounded BFS: best(src, dst) -> min hops, frontier joined on edges
    best = e.select("src", "dst", F.lit(1).alias("min_hops"))
    frontier = best
    for hop in range(2, REACH_HOPS + 1):
        step = (
            frontier.alias("f")
            .join(e.alias("e"), F.col("f.dst") == F.col("e.src"))
            .filter(F.col("e.dst") != F.col("f.src"))
            .select(
                F.col("f.src").alias("src"),
                F.col("e.dst").alias("dst"),
                F.lit(hop).alias("min_hops"),
            )
            .distinct()
        )
        best = best.unionByName(step)
        frontier = step
    best = best.groupBy("src", "dst").agg(F.min("min_hops").alias("min_hops"))
    return (
        best.join(F.broadcast(n), best["src"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("src_nation"))
        .agg(
            F.count(F.lit(1)).alias("n_reachable"),
            F.sum(F.when(F.col("min_hops") == 1, 1).otherwise(0)).alias(
                "direct"
            ),
            F.min("min_hops").cast("int").alias("nearest"),
            F.max("min_hops").cast("int").alias("farthest"),
        )
    )


@query(
    "q_graph_degree_stats",
    oracle=f"""
    WITH e AS (
      SELECT DISTINCT c.c_custkey AS cust, l.l_partkey AS prt
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    deg AS (
      SELECT 'customer' AS side, cust AS node, count(*) AS d
      FROM e GROUP BY cust
      UNION ALL
      SELECT 'part' AS side, prt AS node, count(*) AS d
      FROM e GROUP BY prt
    )
    SELECT side, length(cast(d AS VARCHAR)) AS bucket,
           count(*) AS n_nodes,
           min(d) AS min_deg, max(d) AS max_deg,
           {sql_dround(
               "cast(cast(sum(cast(d AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) / count(*)"
           )} AS avg_deg
    FROM deg GROUP BY side, bucket
    """,
)
def q_graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the customer–part co-purchase BIPARTITE
    graph, order-of-magnitude binned: for each side, bucket nodes by
    the number of decimal digits in their degree (1–9, 10–99, …) and
    report per-bucket node count and min/avg/max degree. The heavy-tail
    profile this produces is the first thing to check before any graph
    algorithm at scale — it tells you whether a hub-salting strategy is
    needed (cf. the degree-ordered orientation in q_graph_triangles,
    which exists precisely because this distribution is skewed).

    Determinism: degrees are exact integer counts; the digit bucket is
    an integer string length (no float log2, whose libm rounding could
    flip a node sitting exactly on a power of two between engines);
    avg_deg goes through the detagg decimal sum.

    Scale: one fact-sized distinct (the edge build — same first pass
    as q_graph_triangles), then two key-partitioned count aggregations
    and a ~tens-of-buckets final aggregation. Partial aggregation
    (map-side combine) does almost all the work; nothing is windowed,
    nothing funnels through one reducer. At 100 TB the edge distinct is
    the only real shuffle, and it's the unavoidable one."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey")
    e = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(F.col("c_custkey").alias("cust"), F.col("l_partkey").alias("prt"))
        .distinct()
    )
    deg = (
        e.groupBy("cust").agg(F.count(F.lit(1)).alias("d"))
        .select(F.lit("customer").alias("side"), F.col("d"))
        .unionByName(
            e.groupBy("prt").agg(F.count(F.lit(1)).alias("d"))
            .select(F.lit("part").alias("side"), F.col("d"))
        )
    )
    return (
        deg.groupBy(
            "side",
            F.length(F.col("d").cast("string")).cast("bigint").alias("bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("d").alias("min_deg"),
            F.max("d").alias("max_deg"),
            dround(
                F.sum(F.col("d").cast("decimal(38,8)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_deg"),
        )
    )


@query(
    "q_graph_assortativity",
    oracle=f"""
    WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e AS (
      SELECT DISTINCT a.p AS u, b.p AS v
      FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p
    ),
    deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
      ) GROUP BY node
    ),
    ends AS (  -- each undirected edge contributes both orientations
      SELECT du.d AS dx, dv.d AS dy
      FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
      UNION ALL
      SELECT dv.d AS dx, du.d AS dy
      FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
    ),
    s AS (
      SELECT count(*) AS m2,
             sum(cast(dx AS DECIMAL(38,8))) AS sx,
             sum(cast(dx AS DECIMAL(38,8)) * cast(dx AS DECIMAL(38,8))) AS sxx,
             sum(cast(dx AS DECIMAL(38,8)) * cast(dy AS DECIMAL(38,8))) AS sxy
      FROM ends
    )
    SELECT cast(m2 // 2 AS BIGINT) AS n_edges,
           {sql_dround(
               "(m2 * cast(cast(sxy AS VARCHAR) AS DOUBLE) - cast(cast(sx AS VARCHAR) AS DOUBLE) * cast(cast(sx AS VARCHAR) AS DOUBLE))"
               " / (m2 * cast(cast(sxx AS VARCHAR) AS DOUBLE) - cast(cast(sx AS VARCHAR) AS DOUBLE) * cast(cast(sx AS VARCHAR) AS DOUBLE))",
               6,
           )} AS assortativity
    FROM s
    """,
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the part co-purchase graph (Newman
    2002): the Pearson correlation of endpoint degrees over all edge
    stubs — positive means hubs link to hubs (social-network shape),
    negative means hubs link to leaves (hub-and-spoke). Together with
    q_graph_degree_stats this fixes the two numbers that determine how
    a graph algorithm will behave under skew BEFORE you run it.

    By symmetry each undirected edge contributes both (dx,dy) and
    (dy,dx) stubs, which collapses the correlation to three sufficient
    statistics (Σx = Σy, Σx² = Σy², Σxy) — one decimal-exact aggregate
    over the stub stream, the same grouped-OLS trick as
    q_olap_price_elasticity.

    Scale: reuses the triangle operator's edge build (the only
    fact-sized pass); the degree join is node-cardinality broadcast-
    able state; the stub aggregate is map-side combined. One audit
    row out."""
    e = basket_edges(spark, sf_dir)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    pairs = e.join(du, "u").join(dv, "v")
    ends = pairs.select(
        F.col("du").alias("dx"), F.col("dv").alias("dy")
    ).unionByName(
        pairs.select(F.col("dv").alias("dx"), F.col("du").alias("dy"))
    )
    from spark_clustering_spark.functions.detagg import DEC

    s = ends.agg(
        F.count(F.lit(1)).alias("m2"),
        F.sum(F.col("dx").cast(DEC)).alias("sx"),
        F.sum((F.col("dx").cast(DEC) * F.col("dx").cast(DEC))).alias("sxx"),
        F.sum((F.col("dx").cast(DEC) * F.col("dy").cast(DEC))).alias("sxy"),
    )
    m2 = F.col("m2")
    sx = F.col("sx").cast("double")
    sxx, sxy = F.col("sxx").cast("double"), F.col("sxy").cast("double")
    r = (m2 * sxy - sx * sx) / (m2 * sxx - sx * sx)
    return s.select(
        F.floor(m2 / 2).cast("bigint").alias("n_edges"),
        dround(r, 6).alias("assortativity"),
    )


KCORE_K = 100
KCORE_ROUNDS = 3


def _kcore_sql() -> str:
    k, rounds = KCORE_K, KCORE_ROUNDS
    ctes = ["""e0 AS (
      SELECT DISTINCT a.p AS u, b.p AS v
      FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p
    )"""]
    sel = []
    for t in range(1, rounds + 1):
        ctes.append(f"""d{t} AS (
      SELECT node, count(*) AS d FROM (
        SELECT u AS node FROM e{t - 1} UNION ALL SELECT v FROM e{t - 1}
      ) GROUP BY node
    ),
    a{t} AS (SELECT node FROM d{t} WHERE d >= {k}),
    e{t} AS (
      SELECT e.u, e.v FROM e{t - 1} e
      JOIN a{t} au ON au.node = e.u
      JOIN a{t} av ON av.node = e.v
    )""")
        sel.append(
            f"SELECT {t} AS round, (SELECT count(*) FROM a{t}) AS n_alive,"
            f" (SELECT count(*) FROM e{t}) AS n_edges"
        )
    return (
        "WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p"
        " FROM lineitem),\n    "
        + ",\n    ".join(ctes)
        + "\n    SELECT cast(round AS BIGINT) AS round,"
        " cast(n_alive AS BIGINT) AS n_alive,"
        " cast(n_edges AS BIGINT) AS n_edges FROM ("
        + " UNION ALL ".join(sel)
        + ") t"
    )


@query("q_graph_kcore", oracle=_kcore_sql())
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KCORE_ROUNDS} synchronous peeling rounds toward the
    {KCORE_K}-core of the part co-purchase graph: each round drops
    every node whose CURRENT degree is below k, then discards edges
    touching dropped nodes, and reports (round, surviving nodes,
    surviving edges). The k-core is the standard "dense engagement
    backbone" extraction — what remains after the periphery (and the
    periphery's support) cascades away — and the peeling loop is the
    canonical iterative-refinement graph shape after PageRank
    (q_graph_pagerank) and frontier BFS (q_graph_reachability):
    recompute a node statistic, filter, re-filter edges, repeat.

    Bounded unrolling (like PR_ITERS/max-hops): each declared round is
    degree-count → semi-filter → edge filter, all integer-exact. Full
    convergence at scale = loop the same step with an early-exit count
    check (the fit_* driver-loop pattern); each round's shuffles stay
    edges-sized, state stays node-sized, and the edge set only
    shrinks, so iteration cost is monotone non-increasing.

    Scale: the edge build is the one fact-sized pass (shared shape
    with q_graph_triangles); per round, degree is a map-side-combined
    count and the alive filter is two node-keyed semi joins — at
    1000 executors the node table broadcasts while edges stay
    partitioned."""
    e = basket_edges(spark, sf_dir)  # cached pin, reused by every peel round
    out = None
    for t in range(1, KCORE_ROUNDS + 1):
        deg = (
            e.select(F.col("u").alias("node"))
            .unionByName(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        alive = deg.filter(F.col("d") >= KCORE_K).select("node")
        e = pin(
            e.join(alive.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(alive.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
        )
        row = alive.agg(F.count(F.lit(1)).alias("n_alive")).crossJoin(
            e.agg(F.count(F.lit(1)).alias("n_edges"))
        ).select(
            F.lit(t).cast("bigint").alias("round"),
            F.col("n_alive").cast("bigint").alias("n_alive"),
            F.col("n_edges").cast("bigint").alias("n_edges"),
        )
        out = row if out is None else out.unionByName(row)
    return out


@query(
    "q_graph_jaccard_linkpred",
    oracle="""
    WITH lp0 AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    small AS (SELECT o FROM lp0 GROUP BY o HAVING count(*) <= 5),
    lp AS (SELECT lp0.o, lp0.p FROM lp0 JOIN small USING (o)),
    e AS (
      SELECT DISTINCT a.p AS u, b.p AS v
      FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p
    ),
    adj AS (
      SELECT u AS node, v AS nbr FROM e
      UNION ALL SELECT v AS node, u AS nbr FROM e
    ),
    deg AS (SELECT node, count(*) AS d FROM adj GROUP BY node),
    wedge AS (
      SELECT a.nbr AS u, b.nbr AS v, count(*) AS common
      FROM adj a JOIN adj b ON a.node = b.node AND a.nbr < b.nbr
      GROUP BY a.nbr, b.nbr
    ),
    cand AS (
      SELECT w.u, w.v, w.common, du.d AS du, dv.d AS dv
      FROM wedge w
      JOIN deg du ON du.node = w.u
      JOIN deg dv ON dv.node = w.v
      LEFT JOIN e ON e.u = w.u AND e.v = w.v
      WHERE e.u IS NULL AND w.common >= 2
    )
    SELECT u, v, common,
           cast(cast(round(cast(cast(
             (cast(common AS DOUBLE) / (du + dv - common))
             AS VARCHAR) AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS jaccard
    FROM cand
    ORDER BY jaccard DESC, u, v
    LIMIT 50
    """,
)
def q_graph_jaccard_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the focused-basket co-purchase graph: for
    every non-adjacent pair at distance 2, neighborhood Jaccard
    |N(u)∩N(v)| / (|N(u)|+|N(v)|−|∩|) — common-neighbor scoring, the
    classic recommender primitive ("parts bought alongside the same
    parts"). Association signal comes from focused baskets, so edges
    are built from orders with ≤5 distinct parts (a mega-basket
    contributes O(B²) uninformative edges and O(B⁴)-ish wedge mass —
    the standard market-basket cap). Top-50 by (score DESC, u, v),
    ≥2 common neighbors.

    Scale: wedges enumerate per CENTER node — Σd² rows shuffled on
    the candidate-pair key, never a single reducer — and the shuffle
    width is derived from the measured Σd(d−1)/2 (node-cardinality
    state, 1-row collect), because AQE can only coalesce what the
    static width over-provisioned (the q_graph_triangles lesson: a
    fixed width sort-spills as the graph grows). Existing edges drop
    out via a shuffle anti-join keyed (u,v); degrees broadcast; the
    final top-50 is TakeOrderedAndProject (per-partition heaps), not
    a global sort."""
    e = basket_edges(spark, sf_dir, cap=5)  # cached pin, shared build
    adj = e.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        e.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    wa = adj.select("node", F.col("nbr").alias("u"))
    wb = adj.select("node", F.col("nbr").alias("v"))
    if _bcast_path_ok(spark, sf_dir, 5):
        # broadcast wedge plan — same shape as q_graph_adamic_adar's
        # small path (see the comment there): map-side wedge build,
        # packed-key candidate aggregation, ≥2-common filter BEFORE the
        # broadcast anti-join; no n_wedges sizing job.
        ut = dict(e.dtypes)["u"]
        wedge = (
            _wedge_spread(wa)
            .join(F.broadcast(wb), "node")
            .filter(F.col("u") < F.col("v"))
            .select(
                (F.col("u").cast("bigint") * _PK + F.col("v")).alias("uv")
            )
            .groupBy("uv")
            .agg(F.count(F.lit(1)).alias("common"))
        )
        ek = e.select(
            (F.col("u").cast("bigint") * _PK + F.col("v")).alias("uv")
        )
        cand = (
            wedge.filter(F.col("common") >= 2)
            .join(F.broadcast(ek), "uv", "left_anti")
            .select(
                F.shiftright("uv", 32).cast(ut).alias("u"),
                F.col("uv").bitwiseAND(F.lit(_PK - 1)).cast(ut).alias("v"),
                "common",
            )
        )
    else:
        n_wedges = (
            deg.agg(
                F.sum(F.col("d") * (F.col("d") - 1) / 2)
                .cast("bigint")
                .alias("w")
            )
            .collect()[0]["w"]
            or 0
        )
        width = shuffle_width(spark, int(n_wedges), 1_000_000)  # ~1M wedges/task
        wedge = (
            wa.join(wb, "node")
            .filter(F.col("u") < F.col("v"))
            .repartition(width, "u", "v")
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("common"))
        )
        cand = wedge.join(e, ["u", "v"], "left_anti").filter(
            F.col("common") >= 2
        )
    cand = cand.join(
        F.broadcast(
            deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
        ),
        "u",
    ).join(
        F.broadcast(
            deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
        ),
        "v",
    )
    return (
        cand.select(
            "u",
            "v",
            "common",
            dround(
                F.col("common").cast("double")
                / (F.col("du") + F.col("dv") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "u", "v")
        .limit(50)
    )


MODULARITY_BASKET_CAP = 5  # focused-basket cap (see q_graph_jaccard_linkpred)


@query(
    "q_graph_modularity",
    oracle=f"""
    WITH lp0 AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    small AS (SELECT o FROM lp0 GROUP BY o
              HAVING count(*) <= {MODULARITY_BASKET_CAP}),
    lp AS (SELECT lp0.o, lp0.p FROM lp0 JOIN small USING (o)),
    e AS (
      SELECT DISTINCT a.p AS u, b.p AS v
      FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p
    ),
    lab AS (SELECT p_partkey AS node, p_brand AS com FROM part),
    el AS (
      SELECT cu.com AS cu, cv.com AS cv
      FROM e JOIN lab cu ON cu.node = e.u
             JOIN lab cv ON cv.node = e.v
    ),
    m AS (SELECT count(*) AS m FROM el),
    within AS (
      SELECT cu AS com, count(*) AS m_c FROM el WHERE cu = cv GROUP BY cu
    ),
    dc AS (
      SELECT com, count(*) AS d_c, count(DISTINCT node) AS n_nodes
      FROM (
        SELECT cu.com AS com, e.u AS node
        FROM e JOIN lab cu ON cu.node = e.u
        UNION ALL
        SELECT cv.com AS com, e.v AS node
        FROM e JOIN lab cv ON cv.node = e.v
      ) GROUP BY com
    )
    SELECT dc.com AS community,
           dc.n_nodes::BIGINT AS n_nodes,
           dc.d_c::BIGINT AS degree_sum,
           coalesce(within.m_c, 0)::BIGINT AS m_within,
           {sql_dround(
             "coalesce(within.m_c, 0) / cast(m.m AS DOUBLE)"
             " - (dc.d_c / (2.0 * m.m)) * (dc.d_c / (2.0 * m.m))", 6)}
             AS q_contrib
    FROM dc LEFT JOIN within USING (com) CROSS JOIN m
    """,
)
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity decomposition of the focused-basket
    co-purchase graph under the part-brand partition: per community
    (brand), the node count, degree mass d_c, within-community edge
    count m_c, and the community's modularity contribution
    m_c/m − (d_c/2m)² — summing q_contrib gives Q, the standard
    did-the-catalog-taxonomy-capture-the-buying-structure audit (and
    the objective every Louvain pass greedily improves).

    Scale: edges come from basket-capped orders (≤{MODULARITY_BASKET_CAP}
    distinct parts — bounded per-order expansion); community labels
    attach via two dimension hash-joins on partkey; everything then
    collapses through map-side-combined aggregates keyed on the
    community (≤ |brands| rows). No window, no single reducer, text
    never shuffles. A Louvain implementation iterates exactly this
    plan with updated labels."""
    e = basket_edges(spark, sf_dir, cap=MODULARITY_BASKET_CAP)  # cached pin
    lab = table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"), F.col("p_brand").alias("com")
    )
    lu = lab.select(F.col("node").alias("u"), F.col("com").alias("cu"))
    lv = lab.select(F.col("node").alias("v"), F.col("com").alias("cv"))
    el = e.join(lu, "u").join(lv, "v").select("cu", "cv")
    m = el.agg(F.count(F.lit(1)).alias("m"))
    within = (
        el.filter(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("com"))
        .agg(F.count(F.lit(1)).alias("m_c"))
    )
    stubs = (
        e.join(lu, "u")
        .select(F.col("cu").alias("com"), F.col("u").alias("node"))
        .unionAll(
            e.join(lv, "v").select(
                F.col("cv").alias("com"), F.col("v").alias("node")
            )
        )
    )
    dc = stubs.groupBy("com").agg(
        F.count(F.lit(1)).alias("d_c"),
        F.countDistinct("node").alias("n_nodes"),
    )
    return (
        dc.join(F.broadcast(within), "com", "left")
        .crossJoin(F.broadcast(m))
        .select(
            F.col("com").alias("community"),
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            F.col("d_c").cast("bigint").alias("degree_sum"),
            F.coalesce("m_c", F.lit(0)).cast("bigint").alias("m_within"),
            dround(
                F.coalesce("m_c", F.lit(0)) / F.col("m").cast("double")
                - (F.col("d_c") / (2.0 * F.col("m")))
                * (F.col("d_c") / (2.0 * F.col("m"))),
                6,
            ).alias("q_contrib"),
        )
    )


@query(
    "q_graph_adamic_adar",
    oracle="""
    WITH lp0 AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    small AS (SELECT o FROM lp0 GROUP BY o HAVING count(*) <= 5),
    lp AS (SELECT lp0.o, lp0.p FROM lp0 JOIN small USING (o)),
    e AS (
      SELECT DISTINCT a.p AS u, b.p AS v
      FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p
    ),
    adj AS (
      SELECT u AS node, v AS nbr FROM e
      UNION ALL SELECT v AS node, u AS nbr FROM e
    ),
    deg AS (
      SELECT node, count(*) AS d,
             cast(round(cast(1.0 / ln(count(*)) AS DECIMAL(38,12)), 6)
               AS DECIMAL(38,6)) AS w
      FROM adj GROUP BY node
    ),
    wedge AS (
      SELECT a.nbr AS u, b.nbr AS v,
             count(*) AS common, sum(g.w) AS aa_dec
      FROM adj a
      JOIN adj b ON a.node = b.node AND a.nbr < b.nbr
      JOIN deg g ON g.node = a.node
      GROUP BY a.nbr, b.nbr
    ),
    cand AS (
      SELECT w.u, w.v, w.common, w.aa_dec
      FROM wedge w
      LEFT JOIN e ON e.u = w.u AND e.v = w.v
      WHERE e.u IS NULL AND w.common >= 2
    )
    SELECT u, v, common,
           cast(aa_dec AS DOUBLE) AS adamic_adar
    FROM cand
    ORDER BY adamic_adar DESC, u, v
    LIMIT 50
    """,
)
def q_graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction on the focused-basket co-purchase
    graph: score(u,v) = Σ_{w ∈ N(u)∩N(v)} 1/ln(deg(w)) — the
    common-neighbor score that DOWN-WEIGHTS promiscuous hubs, which is
    exactly what plain common-neighbor counting (and Jaccard, its
    sibling q_graph_jaccard_linkpred) gets wrong on co-purchase graphs
    where one popular part neighbors everything. Same candidate rules:
    non-adjacent pairs, ≥2 common neighbors, top-50.

    Determinism: 1/ln(d) is a libm-sensitive double, so each DISTINCT
    weight quantizes to a 6-dp DECIMAL before the order-ambiguous
    per-pair sum (the q_text_unigram_logprob discipline — JVM and libm
    ln disagree in the last ulp); a wedge center always has deg ≥ 2,
    so ln never sees 1. Ranking ties break on (u, v).

    Scale: identical shape to q_graph_jaccard_linkpred — per-center
    wedge enumeration with count-derived shuffle width, weight carried
    on the broadcast-sized degree table, anti-join edge filter,
    TakeOrderedAndProject top-50."""
    e = basket_edges(spark, sf_dir, cap=5)  # cached pin, shared build
    adj = e.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        e.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(
        F.count(F.lit(1)).alias("d"),
        F.round(
            (F.lit(1.0) / F.log(F.count(F.lit(1)).cast("double"))).cast(
                "decimal(38,12)"
            ),
            6,
        )
        .cast("decimal(38,6)")
        .alias("w"),
    )
    wa = adj.select("node", F.col("nbr").alias("u"))
    wb = adj.select("node", F.col("nbr").alias("v"))
    if _bcast_path_ok(spark, sf_dir, 5):
        # broadcast wedge plan (guide §2.4/§3.1): the adjacency ships
        # as the wedge build side and the edge set as a packed-key
        # anti-join relation; the center weight rides the probe side
        # via a map-side broadcast join, so the only exchange left is
        # the (packed) candidate-pair aggregation itself — and the
        # ≥2-common filter runs before the anti-join so only surviving
        # candidates probe it. Skips the n_wedges sizing job entirely
        # (its width only parameterized the repartition this path
        # removes). Same rows: packing is injective for 31-bit ids.
        ut = dict(e.dtypes)["u"]
        # narrower aggregation type (guide §2.3): the 6-dp quantized
        # weight is exactly w*1e6 micro-units in a BIGINT, so the 25M-row
        # wedge sum runs in the codegen long fast path instead of
        # 128-bit decimal; the exact decimal(38,6) is reconstituted by
        # an exact /1e6 decimal division after the aggregate (quotient
        # has ≤6 decimal places, so the cast's rounding never fires).
        w6 = deg.select(
            "node", (F.col("w") * 1_000_000).cast("bigint").alias("w6")
        )
        wedge = (
            _wedge_spread(wa)
            .join(F.broadcast(w6), "node")
            .join(F.broadcast(wb), "node")
            .filter(F.col("u") < F.col("v"))
            .select(
                (F.col("u").cast("bigint") * _PK + F.col("v")).alias("uv"),
                "w6",
            )
            .groupBy("uv")
            .agg(
                F.count(F.lit(1)).alias("common"),
                F.sum("w6").alias("sw6"),
            )
            .withColumn(
                "aa_dec",
                (
                    F.col("sw6").cast("decimal(38,6)")
                    / F.lit(1_000_000).cast("decimal(7,0)")
                ).cast("decimal(38,6)"),
            )
        )
        ek = e.select(
            (F.col("u").cast("bigint") * _PK + F.col("v")).alias("uv")
        )
        cand = (
            wedge.filter(F.col("common") >= 2)
            .join(F.broadcast(ek), "uv", "left_anti")
            .select(
                F.shiftright("uv", 32).cast(ut).alias("u"),
                F.col("uv").bitwiseAND(F.lit(_PK - 1)).cast(ut).alias("v"),
                "common",
                "aa_dec",
            )
        )
    else:
        n_wedges = (
            deg.agg(
                F.sum(F.col("d") * (F.col("d") - 1) / 2)
                .cast("bigint")
                .alias("w2")
            ).collect()[0]["w2"]
            or 0
        )
        width = shuffle_width(spark, int(n_wedges), 1_000_000)  # ~1M wedges/task
        wedge = (
            wa.join(wb, "node")
            .filter(F.col("u") < F.col("v"))
            .join(F.broadcast(deg.select("node", "w")), "node")
            .repartition(width, "u", "v")
            .groupBy("u", "v")
            .agg(
                F.count(F.lit(1)).alias("common"),
                F.sum("w").alias("aa_dec"),
            )
        )
        cand = wedge.join(e, ["u", "v"], "left_anti").filter(
            F.col("common") >= 2
        )
    return (
        cand.select(
            "u",
            "v",
            "common",
            F.col("aa_dec").cast("double").alias("adamic_adar"),
        )
        .orderBy(F.desc("adamic_adar"), "u", "v")
        .limit(50)
    )


@query(
    "q_graph_clustering_coeff",
    oracle="""
    WITH lp0 AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    small AS (SELECT o FROM lp0 GROUP BY o HAVING count(*) <= 5),
    lp AS (SELECT lp0.o, lp0.p FROM lp0 JOIN small USING (o)),
    e AS (
      SELECT DISTINCT a.p AS u, b.p AS v
      FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p
    ),
    adj AS (
      SELECT u AS node, v AS nbr FROM e
      UNION ALL SELECT v AS node, u AS nbr FROM e
    ),
    deg AS (SELECT node, count(*) AS d FROM adj GROUP BY node),
    wedge AS (
      SELECT a.node AS center, a.nbr AS u, b.nbr AS v
      FROM adj a JOIN adj b ON a.node = b.node AND a.nbr < b.nbr
    ),
    tri AS (
      SELECT w.center, count(*) AS t
      FROM wedge w JOIN e ON e.u = w.u AND e.v = w.v
      GROUP BY w.center
    ),
    lcc AS (
      SELECT g.node, g.d, coalesce(t.t, 0) AS t,
             CASE WHEN g.d >= 2
                  THEN 2.0 * coalesce(t.t, 0) / (g.d * (g.d - 1))
                  ELSE 0.0 END AS c
      FROM deg g LEFT JOIN tri t ON t.center = g.node
      WHERE g.d >= 2
    )
    SELECT node, cast(d AS BIGINT) AS degree, cast(t AS BIGINT) AS triangles,
           cast(cast(round(cast(cast((c) AS VARCHAR) AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS lcc
    FROM lcc
    ORDER BY lcc DESC, t DESC, node
    LIMIT 50
    """,
)
def q_graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node on the focused-basket
    co-purchase graph: lcc(v) = 2·T(v)/(d(v)·(d(v)−1)), where T(v)
    counts triangles THROUGH v — the node-level cohesion score
    (q_graph_triangles' global count localized), top-50 by
    (lcc DESC, triangles DESC, node). High-lcc parts sit in tight
    co-purchase cliques — the community-seed signal modularity-based
    clustering starts from.

    Determinism: T and d are exact integers; lcc is ONE double
    division per node; ordering tie-breaks through (t, node).

    Scale: per-center wedge enumeration joined against the edge set on
    the (u,v) pair key — Σd² wedge rows hash-partitioned, never a
    single reducer; degrees and the wedge-closure probe reuse the
    pinned edge build; the top-50 is TakeOrderedAndProject."""
    e = basket_edges(spark, sf_dir, cap=5)  # cached pin, shared build
    adj = e.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        e.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    wa = adj.select(F.col("node").alias("center"), F.col("nbr").alias("u"))
    wb = adj.select(F.col("node").alias("center"), F.col("nbr").alias("v"))
    if _bcast_path_ok(spark, sf_dir, 5):
        # broadcast wedge plan (see q_graph_adamic_adar's small path):
        # wedges build map-side against the broadcast adjacency and
        # close against the packed-key broadcast edge set, so the whole
        # triangle count collapses to per-center partials (≤|nodes|
        # rows) before its one exchange.
        ek = e.select(
            (F.col("u").cast("bigint") * _PK + F.col("v")).alias("uv")
        )
        tri = (
            _wedge_spread(wa)
            .join(F.broadcast(wb), "center")
            .filter(F.col("u") < F.col("v"))
            .select(
                "center",
                (F.col("u").cast("bigint") * _PK + F.col("v")).alias("uv"),
            )
            .join(F.broadcast(ek), "uv")
            .groupBy("center")
            .agg(F.count(F.lit(1)).alias("t"))
        )
    else:
        wedge = wa.join(wb, "center").filter(F.col("u") < F.col("v"))
        tri = (
            wedge.join(e, ["u", "v"])
            .groupBy("center")
            .agg(F.count(F.lit(1)).alias("t"))
        )
    lcc = (
        deg.filter(F.col("d") >= 2)
        .join(tri, deg["node"] == tri["center"], "left")
        .select(
            "node",
            "d",
            F.coalesce(F.col("t"), F.lit(0)).alias("t"),
        )
        .select(
            "node",
            "d",
            "t",
            (
                2.0
                * F.col("t").cast("double")
                / (F.col("d") * (F.col("d") - 1))
            ).alias("c"),
        )
    )
    return (
        lcc.select(
            "node",
            F.col("d").cast("bigint").alias("degree"),
            F.col("t").cast("bigint").alias("triangles"),
            dround("c", 6).alias("lcc"),
        )
        .orderBy(F.desc("lcc"), F.desc("triangles"), "node")
        .limit(50)
    )


LP_ROUNDS = 2  # synchronous label-propagation rounds (unrolled)
LP_SEED_MOD = 10  # parts with p_partkey % MOD == 0 are the labeled seeds


def _label_prop_sql() -> str:
    """Oracle: the same two unrolled rounds as the Spark plan, with the
    focused-basket edge fragment shared by the linkpred family."""
    head = """
    WITH lp0 AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    small AS (SELECT o FROM lp0 GROUP BY o HAVING count(*) <= 5),
    lp AS (SELECT lp0.o, lp0.p FROM lp0 JOIN small USING (o)),
    e AS (
      SELECT DISTINCT a.p AS u, b.p AS v
      FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p
    ),
    adj AS (
      SELECT u AS node, v AS nbr FROM e
      UNION ALL SELECT v AS node, u AS nbr FROM e
    ),
    nodes AS (SELECT DISTINCT node FROM adj),
    l0 AS (
      SELECT n.node, p.p_brand AS label
      FROM nodes n JOIN part p ON p.p_partkey = n.node
      WHERE n.node % {mod} = 0
    )""".format(mod=LP_SEED_MOD)
    rounds = []
    prev = "l0"
    for t in (1, 2):
        rounds.append(
            """
    votes{t} AS (
      SELECT a.node, l.label, count(*) AS c
      FROM adj a
      JOIN {prev} l ON l.node = a.nbr
      WHERE a.node NOT IN (SELECT node FROM {prev})
      GROUP BY a.node, l.label
    ),
    new{t} AS (
      SELECT node, label,
             row_number() OVER (PARTITION BY node
                                ORDER BY c DESC, label) AS rn
      FROM votes{t} QUALIFY rn = 1
    ),
    l{t} AS (
      SELECT node, label FROM {prev}
      UNION ALL SELECT node, label FROM new{t}
    )""".format(t=t, prev=prev)
        )
        prev = f"l{t}"
    tail = """
    SELECT cast(0 AS BIGINT) AS round, label,
           cast(count(*) AS BIGINT) AS n_assigned
    FROM l0 GROUP BY label
    UNION ALL
    SELECT cast(1 AS BIGINT), label, cast(count(*) AS BIGINT)
    FROM new1 GROUP BY label
    UNION ALL
    SELECT cast(2 AS BIGINT), label, cast(count(*) AS BIGINT)
    FROM new2 GROUP BY label
    """
    return head + "," + ",".join(rounds) + tail


def label_prop_round(adj: DataFrame, labels: DataFrame) -> DataFrame:
    """One synchronous vote round, pre-materialization: labeled
    neighbors vote along adj, still-unlabeled nodes take the argmax
    (count DESC, label ASC). Exposed so plan contracts can inspect the
    per-round physical plan — the declared key pins each round, which
    hides this machinery from the final explain."""
    from pyspark.sql.window import Window

    votes = (
        adj.join(labels.select(F.col("node").alias("u"), "label"), "u")
        .select(F.col("v").alias("node"), "label")
        .join(labels.select("node"), "node", "left_anti")
        .groupBy("node", "label")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("node").orderBy(
        F.col("c").desc(), F.col("label").asc()
    )
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("node", "label")
    )


@query("q_graph_label_prop", oracle=_label_prop_sql())
def q_graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation on the focused-basket
    co-purchase graph: 10% of parts (p_partkey % {mod} == 0) are seeded
    with their brand; each synchronous round, every still-unlabeled
    node takes the majority label of its labeled neighbors (integer
    votes over DISTINCT edges, ties broken by lexicographic min label)
    and is then frozen — hard-clamped seeds, monotone label set, the
    classic community-bootstrap pass a curation pipeline uses to spread
    sparse taxonomy labels over an item graph. Output is the bounded
    audit surface (round x brand newly-assigned counts, round 0 = the
    seed census), not the node-sized assignment — same discipline as
    q_graph_kcore's per-round survivor audit.

    Completes the iterative-graph triptych: q_graph_pagerank moves
    CONTINUOUS mass along edges, q_dedup_clusters propagates the MIN
    label to a fixpoint, this key propagates CATEGORICAL labels by
    weighted vote. All three share the Pregel-in-DataFrames shape
    (reference analogue: the broadcast-state iteration of
    kmeans.java:94-123, inverted so per-step state stays node-sized
    and only edge-sized shuffles move).

    Scale: per round exactly one adjacency-sized shuffle (adj JOIN
    labels on the neighbor key) then a (node,label)-keyed count; label
    state is node-cardinality and pinned (io.pin) so round t+1 reads
    round t's materialized state instead of recomputing it. Votes never
    materialize more than |adj| rows; the argmax window partitions by
    node (never global). At 1000 executors: co-partition adj and labels
    on the node key, rounds stay constant-state like the pagerank loop."""
    e = basket_edges(spark, sf_dir, cap=5)  # cached pin, shared build
    adj = e.select("u", "v").unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    nodes = adj.select(F.col("u").alias("node")).distinct()
    part = table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"), F.col("p_brand").alias("label")
    )
    labels = pin(nodes.filter(F.col("node") % LP_SEED_MOD == 0).join(part, "node"))
    out = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_assigned")
    ).select(F.lit(0).cast("bigint").alias("round"), "label", "n_assigned")

    for t in range(1, LP_ROUNDS + 1):
        newly = pin(label_prop_round(adj, labels))
        labels = pin(labels.unionByName(newly))
        out = out.unionByName(
            newly.groupBy("label")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_assigned"))
            .select(
                F.lit(t).cast("bigint").alias("round"), "label", "n_assigned"
            )
        )
    return out
