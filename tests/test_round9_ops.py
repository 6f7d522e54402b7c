"""Round-9 additions: count-derived IVF nlist (VERDICT r8 task 2) and
the KMV-sketch dataset card. The count-derived near-dup GEMM grid's
equivalence is checked in tests/test_scale.py."""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import functions as F

SF_SMALL = "/root/testdata/sf0.001"


def test_ivf_nlist_derivation_count_sweep():
    """nlist = clamp(⌊√n⌋, 16, 4096): clamps at both ends, √n in the
    middle, monotone, and the DuckDB twin expression lands on the SAME
    integer for every count in the sweep (that equality is what keeps
    the static oracle SQL hash-matched to the engine at any SF)."""
    from spark_clustering_spark.pipeline.similarity import (
        IVF_NLIST_MAX,
        IVF_NLIST_MIN,
        ivf_nlist,
    )

    assert ivf_nlist(0) == IVF_NLIST_MIN
    assert ivf_nlist(255) == IVF_NLIST_MIN          # ⌊√255⌋ = 15 -> clamp
    assert ivf_nlist(256) == 16
    assert ivf_nlist(500) == 22                     # the sf0.01 corpus
    assert ivf_nlist(2_000) == 44                   # sf0.1
    assert ivf_nlist(200_000) == 447                # sf10
    assert ivf_nlist(IVF_NLIST_MAX**2 * 100) == IVF_NLIST_MAX
    prev = 0
    for n in (0, 1, 100, 10**3, 10**4, 10**5, 10**6, 10**8, 10**12):
        nl = ivf_nlist(n)
        assert IVF_NLIST_MIN <= nl <= IVF_NLIST_MAX
        assert nl >= prev, (n, nl, prev)
        prev = nl
        (duck,) = duckdb.sql(
            f"SELECT greatest({IVF_NLIST_MIN}, least({IVF_NLIST_MAX}, "
            f"cast(floor(sqrt({n}::DOUBLE)) AS BIGINT)))"
        ).fetchone()
        assert nl == duck, (n, nl, duck)


def test_ivf_train_derives_nlist_from_corpus(spark):
    """ivf_train with no explicit nlist must size the codebook from
    the corpus count (500 vectors at sf0.001 -> 22 centroids), and
    ivf_assign must place every vector in exactly one of them."""
    from spark_clustering_spark.functions.distance import as_double_array
    from spark_clustering_spark.io import table
    from spark_clustering_spark.pipeline.similarity import ivf_assign, ivf_train

    ve = table(spark, SF_SMALL, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("vec")
    )
    cents = ivf_train(ve)
    assert cents.count() == 22
    assign = ivf_assign(ve, cents)
    assert assign.count() == ve.count()
    assert assign.select("vec_id").distinct().count() == ve.count()
    used = {r["cid"] for r in assign.select("cid").distinct().collect()}
    cids = {r["cid"] for r in cents.select("cid").collect()}
    assert used <= cids


def test_ivf_assign_matches_window_argmin(spark):
    """The min-struct aggregate is the (cdist, cid) row_number()=1
    pick: equal on every vector, including the payload columns."""
    from pyspark.sql.window import Window

    from spark_clustering_spark.functions.distance import as_double_array, euclidean
    from spark_clustering_spark.io import table
    from spark_clustering_spark.pipeline.similarity import ivf_assign, ivf_train

    ve = table(spark, SF_SMALL, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("vec")
    )
    cents = ivf_train(ve, nlist=20, n_iter=1)
    got = {
        (r["vec_id"], r["cid"]): tuple(r["vec"])
        for r in ivf_assign(ve, cents, "vec").collect()
    }
    pairs = ve.crossJoin(F.broadcast(cents)).withColumn(
        "cdist", euclidean(F.col("vec"), F.col("cvec"))
    )
    w = Window.partitionBy("vec_id").orderBy("cdist", "cid")
    want = {
        (r["vec_id"], r["cid"]): tuple(r["vec"])
        for r in pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid", "vec")
        .collect()
    }
    assert got == want


def test_dataset_card_kmv_invariants(spark):
    """The KMV card must agree with the exact card on every volume
    column, keep each sketch ≤ K members, fall back to the exact
    distinct count when a group has < K distinct texts, and estimate
    within the KMV error envelope (~1/√K ≈ 12.5%, allow 4σ) when the
    sketch saturates."""
    import __spark_entry__ as ent

    from spark_clustering_spark.operators.aggregates import KMV_K

    qs = ent.queries()
    kmv = {
        (r["lang"], r["source"]): r
        for r in qs["q_pipeline_dataset_card_kmv"](spark, SF_SMALL).collect()
    }
    exact = {
        (r["lang"], r["source"]): r
        for r in qs["q_pipeline_dataset_card"](spark, SF_SMALL).collect()
    }
    assert set(kmv) == set(exact)
    for key, r in kmv.items():
        e = exact[key]
        assert (r["n_docs"], r["n_tokens"], r["n_chars"]) == (
            e["n_docs"], e["n_tokens"], e["n_chars"]
        ), key
        assert 0 < r["n_sketch"] <= KMV_K, key
        if r["n_sketch"] < KMV_K:
            assert r["kmv_unique_est"] == float(e["n_unique_texts"]), key
        else:
            rel = abs(r["kmv_unique_est"] - e["n_unique_texts"]) / e[
                "n_unique_texts"
            ]
            assert rel <= 0.5, (key, rel)
