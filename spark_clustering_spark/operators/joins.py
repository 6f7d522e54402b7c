"""Join operators (SURVEY.md §2B "Joins").

Join-strategy notes for 100 TB:
- small dims (part, nation, region, the centroid table, the roulette
  wheel) are broadcast explicitly — no shuffle of the big side;
- orders⋈lineitem is a genuine large-large equi-join: AQE picks
  sort-merge with skew splitting; at scale both sides would be bucketed
  on the order key to make it shuffle-free;
- the as-of join is expressed as filter + per-event max aggregation
  (two shuffles keyed by event_id) instead of a naive range cross-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_clustering_spark.functions.detagg import dround, dsum, sql_dround, sql_dsum
from spark_clustering_spark.functions.rng import lcg_uniform, sql_lcg_uniform
from spark_clustering_spark.io import shuffle_width, spread, table
from spark_clustering_spark.registry import query


@query(
    "q_join_broadcast",
    oracle=f"""
    SELECT l.l_orderkey, l.l_linenumber, p.p_brand,
           {sql_dround('l.l_extendedprice * (1 - l.l_discount)')} AS net_price
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    """,
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-side broadcast equi-join (reference broadcasts its
    read-only state the same way, R18)."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    return li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "l_orderkey",
        "l_linenumber",
        "p_brand",
        dround(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
    )


@query(
    "q_join_smj",
    oracle=f"""
    SELECT o.o_orderkey, count(*) AS n_lines,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)', 'order_net')}
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderkey
    """,
)
def q_join_smj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-large equi-join (sort-merge under AQE) + per-order agg."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "order_net"),
        )
    )


@query(
    "q_join_multiway",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name, r.r_name
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def q_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-chain join; both dims broadcast — zero shuffles of the fact."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "c_name", "n_name", "r_name")
    )


@query(
    "q_join_left",
    oracle="""
    SELECT c.c_custkey,
           count(o.o_orderkey) AS n_orders,
           cast(cast(round(coalesce(sum(cast(o.o_totalprice AS DECIMAL(38,8))),
                               cast(0 AS DECIMAL(38,8))), 4) AS VARCHAR) AS DOUBLE)
             AS total_spend
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT JOIN with null-extended aggregation (customers with no
    orders keep count 0 / spend 0)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(
                F.coalesce(
                    F.sum(F.col("o_totalprice").cast("decimal(38,8)")),
                    F.lit(0).cast("decimal(38,8)"),
                ),
                4,
            )
            .cast("double")
            .alias("total_spend"),
        )
    )


@query(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS semantics: customers with at least one order (left-semi)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS — the same primitive that powers empty-cluster reseed
    (SURVEY.md R8/Q1)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "q_join_theta_range",
    oracle="""
    SELECT p1.p_partkey AS key_small, p2.p_partkey AS key_big,
           p1.p_brand AS brand,
           (p2.p_size - p1.p_size)::INT AS size_gap
    FROM part p1 JOIN part p2
      ON p1.p_brand = p2.p_brand AND p1.p_size < p2.p_size
    """,
)
def q_join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + theta compound join (hash on brand, residual range
    predicate applied post-match — no cross product).

    Brand has ~25 distinct values, so the unsalted form is
    parallelism-bounded at 25 tasks regardless of cluster size, and
    AQE can't split them (it sees small INPUT partitions; the cost is
    the quadratic candidate OUTPUT). Same cure as q_join_nullsafe:
    the p2 side carries a deterministic per-row salt, p1 replicates
    per salt — each (p1, p2) candidate pair meets exactly once, at
    p2's salt, and each brand spans `width` partitions. Under the
    broadcast plan (p2 is the smaller side) the probe is the exploded
    p1, whose parallelism would otherwise be the part table's parquet
    split count (ONE split at sf10) — so p1 is explicitly
    round-robin-repartitioned to `width` BEFORE the explode, the same
    probe-parallelism fix as q_join_nullsafe."""
    width = shuffle_width(spark)
    p1 = (
        table(spark, sf_dir, "part")
        .select("p_partkey", "p_brand", "p_size")
        .repartition(width)
        .withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(width - 1))))
        .alias("p1")
    )
    p2 = (
        table(spark, sf_dir, "part")
        .select(
            "p_partkey",
            "p_brand",
            "p_size",
            F.pmod(F.xxhash64("p_partkey"), F.lit(width)).alias("_salt"),
        )
        .alias("p2")
    )
    # explicit hint below broadcastable size: p2 is the honest build
    # side — Catalyst's size estimate for the exploded p1 ignores the
    # x width Generate fanout and would otherwise pick the (width x
    # larger) p1 to broadcast. Above it, no hint: the salted shuffle
    # join is the scale path. (count() is parquet-metadata fast.)
    # The gate is BYTES-based (ADVICE r10): ~64 B/row serialized for
    # (long, brand string, int, long) x the hash-relation expansion,
    # capped at 256 MiB serialized (~4M rows) so the build side can
    # never balloon to a driver-OOM-sized broadcast near a rows-only
    # cutoff. sf10 (2M part rows) still broadcasts.
    n_part = table(spark, sf_dir, "part").count()
    p2_side = F.broadcast(p2) if n_part * 64 <= 256 << 20 else p2
    return p1.join(
        p2_side,
        (F.col("p1.p_brand") == F.col("p2.p_brand"))
        & (F.col("p1._salt") == F.col("p2._salt"))
        & (F.col("p1.p_size") < F.col("p2.p_size")),
    ).select(
        F.col("p1.p_partkey").alias("key_small"),
        F.col("p2.p_partkey").alias("key_big"),
        F.col("p1.p_brand").alias("brand"),
        (F.col("p2.p_size") - F.col("p1.p_size")).alias("size_gap"),
    )


@query(
    "q_join_asof",
    oracle="""
    WITH m AS (
      SELECT e.event_id, max(o.o_orderdate) AS asof_date
      FROM events e JOIN orders o
        ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
      GROUP BY e.event_id
    )
    SELECT m.event_id, strftime(m.asof_date, '%Y-%m-%d') AS asof_date,
           max(o.o_orderkey) AS asof_orderkey
    FROM m
    JOIN events e ON e.event_id = m.event_id
    JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate = m.asof_date
    GROUP BY m.event_id, m.asof_date
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: per event, the most recent order of the same user at
    or before the event time (ties on date break to max orderkey).

    Expressed as join + max aggregations — deterministic and
    hash-matchable; the range join is bounded by per-user order
    history."""
    e = table(spark, sf_dir, "events")
    o = table(spark, sf_dir, "orders")
    m = (
        e.join(
            o,
            (o.o_custkey == e.user_id) & (o.o_orderdate <= e.ts),
        )
        .groupBy("event_id")
        .agg(F.max("o_orderdate").alias("asof_date"))
    )
    e2 = table(spark, sf_dir, "events").select("event_id", "user_id")
    o2 = table(spark, sf_dir, "orders")
    return (
        m.join(e2, "event_id")
        .join(
            o2,
            (o2.o_custkey == e2.user_id) & (o2.o_orderdate == F.col("asof_date")),
        )
        .groupBy(
            "event_id", F.date_format("asof_date", "yyyy-MM-dd").alias("asof_date")
        )
        .agg(F.max("o_orderkey").alias("asof_orderkey"))
    )


@query(
    "q_join_cdf_lookup",
    oracle=f"""
    WITH pop AS (
      SELECT o_orderkey AS member_id, 1.0 / o_totalprice AS fit
      FROM orders ORDER BY o_orderkey LIMIT 20
    ),
    cums AS (
      SELECT member_id, fit,
             sum(fit) OVER (ORDER BY member_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM pop
    ),
    norm AS (
      SELECT member_id, cum / (max(cum) OVER ()) AS hi FROM cums
    ),
    wheel AS (
      SELECT member_id, hi,
             coalesce(lag(hi) OVER (ORDER BY member_id), 0.0) AS lo
      FROM norm
    ),
    draws AS (
      SELECT i AS draw_id, {sql_lcg_uniform('i', seed=7)} AS u
      FROM (SELECT unnest(range(50)) AS i)
    )
    SELECT d.draw_id, w.member_id
    FROM draws d JOIN wheel w ON d.u >= w.lo AND d.u < w.hi
    """,
)
def q_join_cdf_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R10: roulette draws — 50 deterministic uniforms range-joined into
    the CDF bins of the wheel. The wheel is tiny and broadcast, so the
    range join is a broadcast nested-loop over ≤k bins per draw."""
    o = table(spark, sf_dir, "orders")
    from pyspark.sql.window import Window

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
    norm = cums.withColumn("hi", F.col("cum") / F.max("cum").over(w_all))
    wheel = norm.select(
        "member_id",
        "hi",
        F.coalesce(F.lag("hi").over(Window.orderBy("member_id")), F.lit(0.0)).alias("lo"),
    )
    draws = spark.range(50).select(
        F.col("id").alias("draw_id"), lcg_uniform("id", seed=7).alias("u")
    )
    return draws.join(
        F.broadcast(wheel), (draws.u >= wheel.lo) & (draws.u < wheel.hi)
    ).select("draw_id", "member_id")


@query(
    "q_join_salted",
    oracle="""
    SELECT e.event_id, e.event_type, t.n_type
    FROM events e
    JOIN (SELECT event_type AS et, count(*) AS n_type
          FROM events GROUP BY event_type) t
      ON e.event_type = t.et
    """,
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join, hash-verified against the plain join.

    event_type has only 5 distinct values, each owning ~20% of the
    table — exactly the hot-key shape where a plain shuffled join puts
    a fifth of 100 TB on one reducer. The salt splits every hot key
    across 8 sub-partitions (big side: deterministic LCG salt from the
    row id; small side: replicated per salt), and the result must be
    row-identical to the unsalted join — which is what the oracle
    asserts."""
    from spark_clustering_spark.functions.skew import salted_join

    e = table(spark, sf_dir, "events").select("event_id", "event_type")
    t = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("event_type").alias("et"))
        .agg(F.count(F.lit(1)).alias("n_type"))
    )
    out = salted_join(
        e, t, big_key="event_type", small_key="et",
        salt_source="event_id", n_salts=8,
    )
    return out.select("event_id", "event_type", "n_type")


@query(
    "q_join_nullsafe",
    oracle="""
    WITH c AS (SELECT c_custkey, nullif(c_nationkey, 3) AS nk FROM customer),
         s AS (SELECT s_suppkey, nullif(s_nationkey, 3) AS nk FROM supplier)
    SELECT c.c_custkey, s.s_suppkey
    FROM c JOIN s ON c.nk IS NOT DISTINCT FROM s.nk
    """,
)
def q_join_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (<=>): NULL keys match each other instead of
    vanishing — SQL's IS NOT DISTINCT FROM. Catalyst plans <=> as a
    normal hash join key (nulls hash to one bucket), so the usual
    broadcast/shuffle strategies apply.

    The key domain is the 25 nations, so an unsalted shuffle join is
    parallelism-bounded at 25 tasks no matter the cluster — measured
    at sf10 as a 1749 s single-threaded-tail aggregate pass vs
    DuckDB's 190 s (PARITY_r10_nullsafe_sf10.json, pre-salt). AQE's
    skew split can't help: it triggers on INPUT partition bytes, and
    each nation's inputs are tiny — the blowup is the quadratic
    OUTPUT. So the customer side carries a deterministic salt
    (xxhash64 of its key, mod the shuffle width) and the 100×-smaller
    supplier side replicates per salt: every (c, s) pair still meets
    exactly once — at customer's salt — and each nation now spans
    `width` shuffle partitions instead of one.

    The probe side is also explicitly repartitioned on (key, salt):
    when the replicated supplier side fits the broadcast threshold the
    join plans as BroadcastHashJoin, whose parallelism is the PROBE
    SCAN's split count (6 single-digit-MB parquet splits at sf10 —
    that, not the key domain, was the real shape of the measured
    1749 s tail), and the user-specified exchange gives it `width`
    probe partitions that AQE will not coalesce; in the at-scale
    shuffle fallback the same exchange is the join's required
    distribution, so it is reused, not duplicated."""
    width = shuffle_width(spark)
    c = (
        table(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            F.nullif(F.col("c_nationkey"), F.lit(3)).alias("nk_c"),
            F.pmod(F.xxhash64("c_custkey"), F.lit(width)).alias("_salt_c"),
        )
        .repartition(width, "nk_c", "_salt_c")
    )
    s = table(spark, sf_dir, "supplier").select(
        "s_suppkey", F.nullif(F.col("s_nationkey"), F.lit(3)).alias("nk_s")
    ).withColumn(
        "_salt_s", F.explode(F.sequence(F.lit(0), F.lit(width - 1)))
    )
    return c.join(
        s,
        F.col("nk_c").eqNullSafe(F.col("nk_s"))
        & (F.col("_salt_c") == F.col("_salt_s")),
    ).select("c_custkey", "s_suppkey")


@query(
    "q_join_range_bucketed",
    oracle="""
    SELECT p.p_partkey,
           count(*) AS n_near,
           cast(cast(round(sum(cast((l.l_extendedprice / l.l_quantity)
             AS DECIMAL(38,8))), 4) AS VARCHAR) AS DOUBLE) AS sum_unit
    FROM part p
    JOIN lineitem l
      ON l.l_extendedprice / l.l_quantity > p.p_retailprice - 2.0
     AND l.l_extendedprice / l.l_quantity < p.p_retailprice + 2.0
    GROUP BY p.p_partkey
    """,
)
def q_join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range join (NO equi key): for each part, aggregate the
    lineitems whose unit price lands within ±2.0 of the part's retail
    price. A naive plan is a cartesian product with a filter — O(n·m)
    and a single BroadcastNestedLoop task at scale. This declares the
    BUCKETED form: both sides key on floor(price/δ), the dim side
    fans out to its three adjacent buckets, the join is a plain hash
    equi-join on the bucket id, and the exact |a−b| < δ predicate runs
    as a residual filter. Identical pairs by construction (δ-wide
    buckets: any pair within δ differs by at most one bucket).

    Scale: pair blowup is confined to co-bucketed rows (density-bound,
    like the LSH band join), the shuffle keys on an integer, and a hot
    price band is ordinary join skew — AQE splits it. The oracle states
    the declarative range join; Spark runs the bucketed plan.

    Pair-volume optimization: unit prices repeat heavily (they derive
    from a bounded price grid), so the fact side is pre-aggregated to
    distinct ``(bucket, unit, n)`` BEFORE the fanout join — the join
    then touches one row per distinct unit value instead of one per
    lineitem, and the final aggregate count-weights: ``sum(n)`` for
    the pair count and an exact decimal ``sum(unit·n)`` for the value
    sum (decimal arithmetic makes the weighted form bit-identical to
    summing each occurrence)."""
    delta = 2.0
    # spread() before the unit/bucket math: the compacted input's
    # one-task scan otherwise serializes the distinct-unit partial
    # aggregate feeding the fanout join (guide §6).
    li = spread(
        table(spark, sf_dir, "lineitem").select(
            "l_extendedprice", "l_quantity"
        )
    )
    unit = (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit")
    lb = (
        li.select(unit)
        .withColumn("bucket", F.floor(F.col("unit") / delta))
        .groupBy("bucket", "unit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    pb = p.select(
        "p_partkey",
        "p_retailprice",
        F.explode(
            F.array(
                F.floor(F.col("p_retailprice") / delta) - 1,
                F.floor(F.col("p_retailprice") / delta),
                F.floor(F.col("p_retailprice") / delta) + 1,
            )
        ).alias("bucket"),
    )
    # unit < 10^10 and n < 10^9 here, so decimal(18,8)*decimal(9,0) =
    # decimal(28,8) stays exact (no precision-loss truncation at p>38);
    # the sum accumulates the same decimal values dsum would.
    weighted = F.col("unit").cast("decimal(18,8)") * F.col("n").cast(
        "decimal(9,0)"
    )
    # re-spread the distinct-unit table before the fanout join: AQE
    # coalesces the aggregate's tiny output to a handful of partitions,
    # but the join AMPLIFIES each row by the per-bucket part density —
    # the exchange moves ~25k skinny rows, the join stage gains the
    # full core count (guide §2.5: parallelism must track the work
    # after amplification, not the bytes before it).
    lb = lb.repartition(spark.sparkContext.defaultParallelism)
    return (
        lb.join(F.broadcast(pb), "bucket")
        # two-inequality residual, NOT abs(a-b)<δ: bit-identical to the
        # oracle's IEJoin-friendly predicate (a-b and b+δ round
        # differently at the boundary), and DuckDB plans the oracle as
        # an IEJoin instead of a 1.2e12-pair nested loop at sf1
        .filter(
            (F.col("unit") > F.col("p_retailprice") - delta)
            & (F.col("unit") < F.col("p_retailprice") + delta)
        )
        .groupBy("p_partkey")
        .agg(
            F.sum("n").alias("n_near"),
            F.round(F.sum(weighted), 4).cast("double").alias("sum_unit"),
        )
    )


@query(
    "q_join_bloom_prune",
    # the bloom is a prefilter whose false positives the real join
    # removes -- the declared output is identical to the plain join
    oracle="""
    SELECT l.l_returnflag,
           count(*) AS n_lines,
           cast(cast(round(sum(cast(l.l_extendedprice * (1 - l.l_discount)
                AS DECIMAL(38,8))), 4) AS VARCHAR) AS DOUBLE) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY 1
    """,
)
def q_join_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned (semi-join-reduced) fact join: revenue of urgent
    orders' lines. The filtered dimension's KEYS are folded into a
    fixed 128 KB bloom bitset (pipeline/chunking.bloom_build — the
    same build/probe hash family, so no false negatives); the fact
    side drops non-matching rows at scan speed inside codegen BEFORE
    the join shuffle, and the real equi-join removes the bloom's
    false positives, so the result is exactly the plain join's.

    Scale: this is runtime row-group filtering made explicit. At
    100 TB the filtered dim can exceed every broadcast-join limit
    while its bloom stays 128 KB; shuffle volume for the fact side
    drops to selectivity + false-positive rate. Spark's AQE runtime
    bloom (spark.sql.optimizer.runtime.bloomFilter.enabled) plans the
    same shape automatically when statistics allow; declaring it keeps
    the reduction verifiable and engine-portable."""
    from spark_clustering_spark.pipeline.chunking import (
        bloom_dense,
        bloom_might_contain_dense,
    )

    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    keys = o.select(F.col("o_orderkey").alias("bkey"))
    # dense word array, not the sparse map: element_at(map) is a linear
    # key scan in codegen; element_at(array, idx) is O(1) per probe
    bf = bloom_dense(keys, col="bkey")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    pruned = (
        li.crossJoin(F.broadcast(bf))
        .filter(bloom_might_contain_dense("bloom_arr", "l_orderkey"))
        .drop("bloom_arr")
    )
    joined = pruned.join(
        o.select("o_orderkey"),
        pruned["l_orderkey"] == F.col("o_orderkey"),
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum(rev.cast("decimal(38,8)")), 4)
        .cast("double")
        .alias("revenue"),
    )


@query(
    "q_join_asof_nearest",
    oracle="""
    WITH d AS (
      SELECT e.event_id, o.o_orderkey, o.o_orderdate,
             -- floor(), not ::BIGINT (which rounds): events carry
             -- fractional (nano) seconds and Spark unix_timestamp floors
             abs(floor(epoch(e.ts))::BIGINT - floor(epoch(o.o_orderdate))::BIGINT)
               AS abs_seconds
      FROM events e JOIN orders o ON o.o_custkey = e.user_id
    )
    SELECT event_id,
           strftime(o_orderdate, '%Y-%m-%d') AS near_date,
           o_orderkey AS near_orderkey,
           abs_seconds
    FROM d
    QUALIFY row_number() OVER (PARTITION BY event_id
      ORDER BY abs_seconds, o_orderdate, o_orderkey DESC) = 1
    """,
)
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-in-time as-of join: per event, the same user's order
    closest in time on EITHER side (backward q_join_asof answers
    "state at the time"; nearest answers "best matching observation" —
    the feature-store / sensor-alignment variant). Ties at equal
    distance prefer the earlier order, then the max orderkey —
    deterministic in both engines.

    Scale: the range join is bounded by per-user order history."""
    # spread the probe side: orders broadcasts (<=64 MB), so the
    # whole join+timestamp map runs in the events scan's task count
    e = spread(table(spark, sf_dir, "events"))
    o = table(spark, sf_dir, "orders")
    d = e.join(o, o["o_custkey"] == e["user_id"]).select(
        "event_id",
        "o_orderkey",
        "o_orderdate",
        F.abs(
            F.unix_timestamp("ts") - F.unix_timestamp("o_orderdate")
        ).alias("abs_seconds"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_id").orderBy(
        "abs_seconds", F.col("o_orderdate").asc(), F.col("o_orderkey").desc()
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("near_date"),
            F.col("o_orderkey").alias("near_orderkey"),
            "abs_seconds",
        )
    )


@query(
    "q_join_asof_forward",
    oracle="""
    WITH m AS (
      SELECT e.event_id, min(o.o_orderdate) AS next_date
      FROM events e JOIN orders o
        ON o.o_custkey = e.user_id AND o.o_orderdate >= e.ts
      GROUP BY e.event_id
    )
    SELECT m.event_id, strftime(m.next_date, '%Y-%m-%d') AS next_date,
           min(o.o_orderkey) AS next_orderkey
    FROM m
    JOIN events e ON e.event_id = m.event_id
    JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate = m.next_date
    GROUP BY m.event_id, m.next_date
    """,
)
def q_join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: per event, the user's NEXT order at or
    after the event time (ties on date break to min orderkey) —
    the what-happened-after alignment (conversion attribution,
    label-after-feature joins in training data, where a BACKWARD
    as-of would leak the future into features). Completes the as-of
    family: q_join_asof (backward), q_join_asof_nearest (either
    side), and this.

    Determinism: min aggregations over exact dates/keys.

    Scale: same contract as q_join_asof — the join+min is bounded by
    per-user order history."""
    e = table(spark, sf_dir, "events")
    o = table(spark, sf_dir, "orders")
    m = (
        e.join(
            o,
            (o.o_custkey == e.user_id) & (o.o_orderdate >= e.ts),
        )
        .groupBy("event_id")
        .agg(F.min("o_orderdate").alias("next_date"))
    )
    e2 = table(spark, sf_dir, "events").select("event_id", "user_id")
    o2 = table(spark, sf_dir, "orders")
    return (
        m.join(e2, "event_id")
        .join(
            o2,
            (o2.o_custkey == e2.user_id)
            & (o2.o_orderdate == F.col("next_date")),
        )
        .groupBy(
            "event_id",
            F.date_format("next_date", "yyyy-MM-dd").alias("next_date"),
        )
        .agg(F.min("o_orderkey").alias("next_orderkey"))
    )
