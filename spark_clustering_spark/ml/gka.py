"""Genetic k-means (GKA) — reference gka.java, R10-R13.

Krishna-Murty-style GKA: selection + K-means-operator (KMO) + mutation;
there is NO crossover (reference README mislabels the params — SURVEY.md
Q3): ``mutation_prob`` (Pm) and ``mutation_cm`` (Cm) follow gka.java:56-57.

Scale inversion (SURVEY.md §4.3): the reference parallelizes over ≤20
chromosomes with the dataset broadcast (gka.java:303,313); here the
*data* stays partitioned and the population state is:

- ``labels``: a distributed DF (member_id, vec_id, label) — n·P rows,
  the only structure proportional to data size;
- per-member centers / objectives / mutated genes: tiny (≤ P·k·d),
  crossing the driver each generation as collected literals (which also
  truncates lineage; each generation's reassignment is persisted and
  released when the next one replaces it).

One generation = one reassignment kernel pass (each member's argmin
against its own broadcast centers, emitting the n·P label rows plus
per-partition center partials), ONE collect that fuses fitness (exact
decimal window sum per member), the mutation pick (window CDF per
member) and those partials, a ≤P-row driver patch for the mutated
genes, and driver-side roulette selection (Q8 — the wheel is P rows).
The next generation's centers are derived on the driver from the
patched partials; only generation 0 runs a dedicated center job
(``gka_member_centers``).

Determinism (Q5): every draw is the shared integer LCG keyed by
(member, generation, purpose). Q7 (GKA flavor): the mutated gene's
objective contribution is measured against the *pre-mutation* centroid
of its new label (gka.java:242-243). Q9: a label with zero members has
no center row; reassignment only considers existing centers and the
mutation patch keeps the old distance if the target center is missing
— no 0/0 NaN can appear.
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_clustering_spark.functions.detagg import DEC
from spark_clustering_spark.functions.rng import py_lcg_uniform
from spark_clustering_spark.ml.kernels import gka_member_centers, gka_reassign

GKA_METRICS_SCHEMA = "gen INT, best_objectvalue DOUBLE, gen_ms BIGINT"


@dataclass
class GKAResult:
    best_member: int
    best_objective: float
    metrics: DataFrame
    labels: DataFrame  # (member_id, vec_id, label) of final population
    history: list[dict]


def _init_labels(
    spark: SparkSession, points: DataFrame, pop: int, k: int, seed: int
) -> DataFrame:
    """Random label vector per member (reference create_sol,
    gka.java:380-386), seeded: label = floor(k · u(member·B + vec_id))."""
    members = spark.range(pop).select(F.col("id").cast("int").alias("member_id"))
    lab = points.select("vec_id").crossJoin(F.broadcast(members))
    key = F.col("member_id").cast("bigint") * F.lit(1_000_003) + F.col("vec_id")
    u = ((key * F.lit(1103515245) + F.lit(12345 + seed)) % F.lit(2**31)).cast(
        "double"
    ) / F.lit(float(2**31))
    return lab.select(
        "member_id", "vec_id", F.floor(u * k).cast("int").alias("label")
    )


def _gen_stats_and_picks(
    assigned: DataFrame,
    mutating: list[int],
    u2: dict[int, float],
    cm: float,
    partials: DataFrame,
) -> tuple[dict[int, float], list[dict], dict[tuple[int, int], list]]:
    """ONE window pass over the assignment table returning both the
    per-member objectives (R13, exact decimal window sum) and the
    roulette-picked mutation gene per mutating member (R12: weight
    w = Cm·max(d) − d, running cum normalized by the TOTAL — i.e. the
    last running-cum value — and the pick is the FIRST row in vec_id
    order whose interval [lo, hi) contains u2, mirroring the
    reference's scan-and-break (gka.java:207-236)). With Cm < 1 the
    weights of far points are negative, so the cum is non-monotone:
    several intervals can contain u2 (first one wins) or none can (no
    mutation for that member — the reference's index = -1 path). Only
    ≤ 2P + a few rows are collected — fusing fitness into the pick job
    saves a full aggregate job per generation.

    ``partials`` (the kind=1 center-partial rows the reassign kernel
    emits) ride the SAME collect as extra rows and come back as
    ``{(member, label): [n, sum_vec ndarray]}`` — P·k·num_partitions
    tiny rows, combined in collect order exactly like
    ``_driver_combine``."""
    w_all = Window.partitionBy("member_id")
    w_ord = Window.partitionBy("member_id").orderBy("vec_id")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_full = w_ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    u2_col = (
        F.create_map(*[x for m in mutating for x in (F.lit(int(m)), F.lit(u2[m]))])[
            F.col("member_id")
        ]
        if mutating
        else F.lit(None).cast("double")
    )
    ann = (
        assigned.withColumn(
            "obj", F.sum(F.col("dist").cast(DEC)).over(w_all).cast("double")
        )
        .withColumn("w", F.lit(cm) * F.max("dist").over(w_all) - F.col("dist"))
        .withColumn("cum", F.sum("w").over(w_run))
    )
    # normalize by the total (last running cum) — NOT max(cum): with
    # negative weights max ≠ total and the wheel's last value must be 1
    ann = ann.withColumn("hi", F.col("cum") / F.last("cum").over(w_full))
    ann = ann.withColumn(
        "lo", F.coalesce(F.lag("hi").over(w_ord), F.lit(0.0))
    )
    is_first = F.row_number().over(w_ord) == 1
    is_pick = (
        u2_col.isNotNull() & (u2_col >= F.col("lo")) & (u2_col < F.col("hi"))
    )
    picked = (
        ann.withColumn("is_first", is_first)
        .withColumn("is_pick", is_pick)
        .filter(F.col("is_first") | F.col("is_pick"))
        .select(
            "member_id", "vec_id", "label", "dist", "mdist", "obj",
            "is_first", "is_pick",
        )
    )
    picked = picked.unionByName(
        partials.select(
            "member_id",
            F.lit(None).cast("bigint").alias("vec_id"),
            "label",
            F.lit(None).cast("double").alias("dist"),
            F.lit(None).cast("double").alias("mdist"),
            F.lit(None).cast("double").alias("obj"),
            F.lit(False).alias("is_first"),
            F.lit(False).alias("is_pick"),
            "n_points",
            "sum_vec",
        ),
        allowMissingColumns=True,
    )
    rows = picked.collect()
    objs = {
        int(r["member_id"]): float(r["obj"])
        for r in rows
        if r["is_first"]
    }
    sums: dict[tuple[int, int], list] = {}
    # scan-and-break: keep only the first qualifying gene per member
    first_gene: dict[int, dict] = {}
    for r in rows:
        if r["n_points"] is not None:
            key = (int(r["member_id"]), int(r["label"]))
            e = sums.get(key)
            if e is None:
                sums[key] = [int(r["n_points"]), np.array(r["sum_vec"])]
            else:
                e[0] += int(r["n_points"])
                e[1] = e[1] + np.array(r["sum_vec"])
            continue
        if r["is_pick"]:
            m = int(r["member_id"])
            if m not in first_gene or r["vec_id"] < first_gene[m]["vec_id"]:
                first_gene[m] = r.asDict()
    genes = [first_gene[m] for m in sorted(first_gene)]
    assert len(genes) == len(first_gene), "at most one gene per mutating member"
    return objs, genes, sums


def fit_gka(
    spark: SparkSession,
    points: DataFrame,
    k: int = 8,
    pop: int = 10,
    num_gen: int = 5,
    pm: float = 0.6,
    cm: float = 0.9,
    seed: int = 42,
    tol: float = 0.0,
) -> GKAResult:
    """GKA loop. ``points``: (vec_id, vec array<double>).

    ``tol`` > 0 adds convergence stopping (the reference runs a fixed
    generation count, gka.java — a production fit wants tol): stop when
    a generation improves the running best objective by less than tol.
    tol=0 reproduces the fixed-generation history exactly."""
    # hash-partition the data ONCE on the join key: the cached layout
    # advertises its partitioning, so the gen-0 labels⋈points centers
    # join shuffles only the labels side (n·P skinny rows) — the
    # data-sized side never re-shuffles across generations.
    # Partition count scales with the data: the per-generation cost at
    # small n is Python-worker round-trips (parts × jobs), so a tiny
    # input gets few fat partitions; a 100 TB input saturates the
    # cluster (ceil(n/20k) rows per BLAS batch, capped at parallelism).
    # The sizing count runs against a persisted input so the caller's
    # upstream pipeline is computed ONCE; the repartition then reads
    # the cache, and the pre-shuffle blocks are released right after.
    src = points.persist()
    points, prev_mixed = src, None
    try:
        n_rows = src.count()
        par = points.sparkSession.sparkContext.defaultParallelism
        parts = max(1, min(par, (n_rows + 19_999) // 20_000))
        points = src.repartition(parts, "vec_id").persist()
        points.count()
        src.unpersist()

        labels = _init_labels(spark, points, pop, k, seed)
        best = float("inf")
        best_member = -1
        metrics_rows: list[tuple] = []
        history: list[dict] = []

        # gen-0 centers need one dedicated shuffle+kernel job (the initial
        # labels exist only as a DF); every later generation's centers are
        # derived DRIVER-SIDE from the partial sums the reassign kernel
        # emits for free — see the sums bookkeeping at the loop tail
        centers_map = gka_member_centers(labels, points)

        for gen in range(num_gen):
            t0 = time.time()
            # the mutation draws depend only on (member, gen, seed), so the
            # target labels are known BEFORE reassignment — the kernel emits
            # each point's distance to its member's target center (mdist)
            # and the fit loop needs no separate gene-vector lookup job
            u1 = {m: py_lcg_uniform(m * 7919 + gen, seed + 1) for m in range(pop)}
            mutating = [m for m in range(pop) if u1[m] < pm]
            u2 = {m: py_lcg_uniform(m * 104729 + gen, seed + 2) for m in mutating}
            u3 = {m: py_lcg_uniform(m * 1299709 + gen, seed + 3) for m in mutating}
            targets = {m: int(u3[m] * k) for m in mutating}
            # persist (lazy) instead of an eager checkpoint: the downstream
            # jobs this generation reuse the materialization the first one
            # triggers, without paying a dedicated write job
            mixed = gka_reassign(points, centers_map, targets).persist()
            if prev_mixed is not None:
                prev_mixed.unpersist()
            prev_mixed = mixed
            assigned = mixed.filter(F.col("kind") == 0).select(
                "member_id", "vec_id", "label", "dist", "mdist"
            )
            partials = mixed.filter(F.col("kind") == 1).select(
                "member_id", "label", "n_points", "sum_vec"
            )

            # ---- fused fitness + pick + center partials: ONE job ---------
            objs, genes, sums = _gen_stats_and_picks(
                assigned, mutating, u2, cm, partials
            )

            # tiny lookup job for the ≤P mutated gene vectors (pruned scan
            # of the cached points) — needed to patch the center sums
            gene_vecs: dict[int, list] = {}
            if genes:
                vids = [int(g["vec_id"]) for g in genes]
                gene_vecs = {
                    int(r["vec_id"]): list(r["vec"])
                    for r in points.filter(F.col("vec_id").isin(vids)).collect()
                }

            patches: list[tuple[int, int, int, float]] = []
            for g in genes:
                m = g["member_id"]
                new_label = targets[m]
                md = g["mdist"]
                # Q9 guard: NaN mdist = target label has no center → keep
                # the old distance (reference keeps the old contribution)
                new_dist = g["dist"] if md is None or math.isnan(md) else md
                patches.append((int(m), int(g["vec_id"]), new_label, float(new_dist)))
                # patch the objective arithmetically (Q7: new distance is
                # against the pre-mutation centroid) — no re-aggregation
                objs[m] = objs[m] - g["dist"] + new_dist
                # patch the center sums the same way: membership sums are
                # linear, so moving one point is two O(d) updates
                v = np.array(gene_vecs[int(g["vec_id"])], dtype=np.float64)
                old_key = (int(m), int(g["label"]))
                n_old, s_old = sums[old_key]
                if n_old <= 1:
                    del sums[old_key]
                else:
                    sums[old_key] = [n_old - 1, s_old - v]
                new_key = (int(m), int(new_label))
                e = sums.get(new_key)
                if e is None:
                    sums[new_key] = [1, v.copy()]
                else:
                    sums[new_key] = [e[0] + 1, e[1] + v]
            if patches:
                pdf = spark.createDataFrame(
                    patches, "p_m INT, p_v BIGINT, new_label INT, new_dist DOUBLE"
                )
                assigned = (
                    assigned.join(
                        F.broadcast(pdf),
                        (F.col("member_id") == F.col("p_m"))
                        & (F.col("vec_id") == F.col("p_v")),
                        "left",
                    )
                    .select(
                        "member_id",
                        "vec_id",
                        F.coalesce("new_label", "label").alias("label"),
                        F.coalesce("new_dist", "dist").alias("dist"),
                    )
                )

            prev_best = best
            gen_best_m = min(objs, key=lambda m: (objs[m], m))
            if objs[gen_best_m] < best:
                best, best_member = objs[gen_best_m], gen_best_m
            metrics_rows.append((gen, round(best, 4), int((time.time() - t0) * 1000)))
            history.append({"gen": gen, "objs": objs, "best": best})
            if tol > 0 and gen > 0 and prev_best - best < tol:
                break  # converged: best improved by less than tol

            # ---- selection (R10, driver-side per Q8) ----------------------
            fits = [(m, 1.0 / objs[m]) for m in sorted(objs)]
            total = sum(f for _, f in fits)
            cdf, acc = [], 0.0
            for m, f in fits:
                acc += f / total
                cdf.append((m, acc))
            chosen = []
            for slot in range(pop):
                u = py_lcg_uniform(slot * 15485863 + gen, seed + 4)
                chosen.append(next((m for m, hi in cdf if u <= hi), cdf[-1][0]))
            remap = spark.createDataFrame(
                [(int(old), int(new)) for new, old in enumerate(chosen)],
                "old_member INT, member_id INT",
            )
            labels = (
                assigned.select(F.col("member_id").alias("old_member"), "vec_id", "label")
                .join(F.broadcast(remap), "old_member")
                .select("member_id", "vec_id", "label")
            )
            # next generation's KMO centers, derived arithmetically: the
            # selection remap copies the chosen member's patched sums into
            # each slot (sums are linear in membership — no re-aggregation
            # job; a label with zero members has no entry, preserving Q9)
            centers_map = {
                slot: {
                    lab: (s / n).tolist()
                    for (m, lab), (n, s) in sums.items()
                    if m == old
                }
                for slot, old in enumerate(chosen)
            }
    finally:
        # release cached blocks (ADVICE: long sessions run many fits); the
        # returned labels DF stays valid — it recomputes from parquet +
        # broadcast centers if consumed after this point
        src.unpersist()
        points.unpersist()
        if prev_mixed is not None:
            prev_mixed.unpersist()
    metrics = spark.createDataFrame(metrics_rows, GKA_METRICS_SCHEMA)
    return GKAResult(
        best_member=best_member,
        best_objective=best,
        metrics=metrics,
        labels=labels,
        history=history,
    )
