"""Clustering invariants (SURVEY.md §5.3) for the fit_* loops."""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF_SMALL

FIXTURES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "spark_clustering_spark",
    "fixtures",
)


@pytest.fixture(scope="module")
def points(spark):
    from spark_clustering_spark.operators.clustering import points_df

    return points_df(spark, SF_SMALL).persist()


@pytest.fixture(scope="module")
def tiny_points(spark):
    from spark_clustering_spark.sources.csv_numeric import read_numeric_csv

    df = read_numeric_csv(spark, os.path.join(FIXTURES, "csv_tiny.csv"))
    return df.selectExpr("id AS vec_id", "features AS vec").persist()


class TestKMeans:
    def test_squared_objective_monotone(self, spark, points):
        """True-Lloyd invariant: sum of squared distances is
        non-increasing under mean updates (the unsquared reference
        objective Q4 need not be monotone — only Σd² is guaranteed)."""
        from spark_clustering_spark.ml.kmeans import fit_kmeans

        res = fit_kmeans(spark, points, k=5, num_iter=6, num_run=1, seed=42)
        sq = [h["objective_sq"] for h in res.history]
        assert all(a >= b - 1e-6 for a, b in zip(sq, sq[1:])), sq

    def test_best_tracking_non_increasing(self, spark, points):
        from spark_clustering_spark.ml.kmeans import fit_kmeans

        res = fit_kmeans(spark, points, k=4, num_iter=4, num_run=2, seed=42)
        bests = [r["best_objectvalue"] for r in res.metrics.orderBy("run", "iter").collect()]
        assert all(a >= b for a, b in zip(bests, bests[1:]))

    def test_seed_reproducible(self, spark, points):
        from spark_clustering_spark.ml.kmeans import fit_kmeans

        r1 = fit_kmeans(spark, points, k=4, num_iter=3, seed=7)
        r2 = fit_kmeans(spark, points, k=4, num_iter=3, seed=7)
        assert r1.history == r2.history
        assert r1.centroids == r2.centroids

    def test_multi_run_pass_equals_one_run_calls(self, spark, points):
        """The shared Lloyd kernel's runs are independent: a two-run
        pass returns, per run, exactly what a one-run call returns
        (the property batch restarts rely on when they share one
        assignment pass, and the streaming fit on when it runs one)."""
        import numpy as np

        from spark_clustering_spark.ml.kernels import lloyd_iteration_multi

        vecs = [r["vec"] for r in points.orderBy("vec_id").limit(7).collect()]
        a, b = np.array(vecs[:4]), np.array(vecs[4:])
        both = lloyd_iteration_multi(points, {0: a, 1: b})
        assert both[0] == lloyd_iteration_multi(points, {0: a})[0]
        assert both[1] == lloyd_iteration_multi(points, {1: b})[1]
        assert [s["cluster_id"] for s in both[1]] == [0, 1, 2]

    def test_failed_fit_releases_its_cache(self, spark, monkeypatch):
        """A fit whose kernel raises must not leave its input cached for
        the rest of the session."""
        from spark_clustering_spark.ml import kmeans
        from spark_clustering_spark.operators.clustering import points_df

        def failing_kernel(*args, **kwargs):
            raise RuntimeError("kernel failed")

        monkeypatch.setattr(kmeans, "lloyd_iteration_multi", failing_kernel)
        jsc = spark.sparkContext._jsc
        before = jsc.getPersistentRDDs().size()
        fresh = points_df(spark, SF_SMALL).filter("vec_id >= 0")
        with pytest.raises(RuntimeError, match="kernel failed"):
            kmeans.fit_kmeans(spark, fresh, k=3, num_iter=2, seed=1)
        assert jsc.getPersistentRDDs().size() == before

    def test_labels_in_range_and_k_centroids(self, spark, points):
        from pyspark.sql import functions as F

        from spark_clustering_spark.ml.kmeans import fit_kmeans

        k = 5
        res = fit_kmeans(spark, points, k=k, num_iter=3, seed=42)
        assert len(res.centroids) == k
        mm = res.assignments.agg(
            F.min("cluster_id").alias("lo"), F.max("cluster_id").alias("hi")
        ).collect()[0]
        assert 0 <= mm["lo"] and mm["hi"] < k

    def test_degenerate_duplicates_no_nan(self, spark, tiny_points):
        """Q1/Q9: more clusters than distinct points — reseed keeps
        running, no NaN centroids appear."""
        import math

        from spark_clustering_spark.sources.csv_numeric import read_numeric_csv

        df = read_numeric_csv(spark, os.path.join(FIXTURES, "csv_degenerate.csv"))
        pts = df.selectExpr("id AS vec_id", "features AS vec")
        from spark_clustering_spark.ml.kmeans import fit_kmeans

        res = fit_kmeans(spark, pts, k=3, num_iter=4, seed=42)
        for _, vec in res.centroids:
            assert all(not math.isnan(v) for v in vec)

    def test_tiny_blobs_recovered(self, spark, tiny_points):
        """Golden check: 3 well-separated blobs of 4 points each → the
        converged assignment groups each blob together."""
        from spark_clustering_spark.ml.kmeans import fit_kmeans

        res = fit_kmeans(spark, tiny_points, k=3, num_iter=8, seed=42)
        rows = res.assignments.orderBy("vec_id").collect()
        blobs = [
            {r["cluster_id"] for r in rows[i : i + 4]} for i in (0, 4, 8)
        ]
        assert all(len(b) == 1 for b in blobs), blobs
        assert len(set().union(*blobs)) == 3

    def test_mllib_cross_check(self, spark, tiny_points):
        """Our converged assignment matches MLlib KMeans up to label
        permutation on the well-separated fixture (SURVEY.md §5.4)."""
        from spark_clustering_spark.ml.kmeans import fit_kmeans, fit_kmeans_mllib

        ours = fit_kmeans(spark, tiny_points, k=3, num_iter=8, seed=42)
        _, theirs = fit_kmeans_mllib(spark, tiny_points, k=3, num_iter=8, seed=42)
        a = {r["vec_id"]: r["cluster_id"] for r in ours.assignments.collect()}
        b = {r["vec_id"]: r["cluster_id"] for r in theirs.collect()}
        # same partition structure ⇔ identical co-membership relation
        ids = sorted(a)
        for i in ids:
            for j in ids:
                assert (a[i] == a[j]) == (b[i] == b[j]), (i, j)


class TestGKA:
    def test_best_non_increasing_and_reproducible(self, spark, points):
        from spark_clustering_spark.ml.gka import fit_gka

        r1 = fit_gka(spark, points, k=4, pop=4, num_gen=3, seed=11)
        bests = [m["best"] for m in r1.history]
        assert all(a >= b for a, b in zip(bests, bests[1:]))
        r2 = fit_gka(spark, points, k=4, pop=4, num_gen=3, seed=11)
        assert r1.history == r2.history

    def test_labels_valid(self, spark, points):
        from pyspark.sql import functions as F

        from spark_clustering_spark.ml.gka import fit_gka

        k, pop = 4, 4
        res = fit_gka(spark, points, k=k, pop=pop, num_gen=2, seed=5)
        stats = res.labels.agg(
            F.min("label").alias("lo"),
            F.max("label").alias("hi"),
            F.countDistinct("member_id").alias("nm"),
        ).collect()[0]
        assert 0 <= stats["lo"] and stats["hi"] < k
        assert stats["nm"] == pop


class TestPSO:
    def test_velocity_clamped_and_best_non_increasing(self, spark, points):
        import numpy as np

        from spark_clustering_spark.ml.pso import _vbounds, fit_pso

        res = fit_pso(spark, points, k=4, num_particles=4, num_iter=3, seed=3)
        bests = [m["gbest"] for m in res.history]
        assert all(a >= b for a, b in zip(bests, bests[1:]))
        lo, hi = _vbounds(points)
        # gbest positions stay finite and broadly within data range ± slack
        assert np.isfinite(res.gbest).all()

    def test_reference_compat_flag_changes_trajectory(self, spark, points):
        from spark_clustering_spark.ml.pso import fit_pso

        a = fit_pso(spark, points, k=3, num_particles=3, num_iter=2, seed=9)
        b = fit_pso(
            spark, points, k=3, num_particles=3, num_iter=2, seed=9,
            reference_compat=True,
        )
        # same seed, different velocity law (Q2) ⇒ different trajectories
        assert a.history != b.history

    def test_seed_reproducible(self, spark, points):
        from spark_clustering_spark.ml.pso import fit_pso

        a = fit_pso(spark, points, k=3, num_particles=3, num_iter=2, seed=4)
        b = fit_pso(spark, points, k=3, num_particles=3, num_iter=2, seed=4)
        assert a.history == b.history

    def test_ref_config_key_invariants(self, spark):
        """fit_pso_ref_config (VERDICT r7 task 5): the declared
        reference-README-scale surface (20 particles, c1=c2=2,
        w 0.9→0.4, 5 iters) must carry the same invariant suite as
        fit_gka_ref_config — monotone gbest, R20 metrics schema, and
        the R17/R14 velocity clamp |v| <= v_max every iteration,
        asserted from the loop's own post-clip clamp evidence."""
        from tests.conftest import SF_SMALL

        from spark_clustering_spark.ml.pso import fit_pso
        from spark_clustering_spark.operators.clustering import points_df

        res = fit_pso(
            spark,
            points_df(spark, SF_SMALL),
            k=8,
            num_particles=20,
            num_iter=5,
            seed=42,
        )
        bests = [m["gbest"] for m in res.history]
        assert len(bests) == 5
        assert all(a >= b for a, b in zip(bests, bests[1:]))
        assert all(
            m["v_max_ratio"] <= 1.0 + 1e-12 for m in res.history
        ), [m["v_max_ratio"] for m in res.history]
        # R20 metrics schema, via the declared registry surface
        import __spark_entry__ as e

        m = e.queries()["fit_pso_ref_config"](spark, SF_SMALL)
        assert [f.name for f in m.schema.fields] == [
            "iter", "best_objectvalue", "iter_ms",
        ]
        assert m.count() == 5


def test_silhouette_matches_sklearn_style_numpy(spark):
    """Silhouette values cross-checked against a direct numpy
    recomputation on the same sample/assignment; all in [-1, 1]."""
    import numpy as np
    from tests.conftest import SF_SMALL
    import __spark_entry__ as e

    rows = e.queries()["q_ml_silhouette"](spark, SF_SMALL).collect()
    assert rows and all(-1.0 <= r["silhouette"] <= 1.0 for r in rows)
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").collect()
    }
    cid = {r["vec_id"]: r["cid"] for r in rows}
    ids = sorted(cid)
    for r in rows[:25]:
        i = r["vec_id"]
        dists = {
            c: [np.linalg.norm(emb[i] - emb[j]) for j in ids if j != i and cid[j] == c]
            for c in set(cid.values())
        }
        own = dists[cid[i]]
        if not own:
            assert r["silhouette"] == 0.0
            continue
        a = float(np.mean(own))
        b = min(float(np.mean(v)) for c, v in dists.items() if c != cid[i] and v)
        s = (b - a) / max(a, b)
        assert abs(r["silhouette"] - s) < 1e-3, (i, r["silhouette"], s)


def test_elbow_objective_monotone_in_k(spark):
    """More centroids can only lower the min-distance objective (the
    deterministic prefix init makes centroid sets nested)."""
    from tests.conftest import SF_SMALL
    import __spark_entry__ as e

    rows = sorted(
        e.queries()["q_ml_elbow"](spark, SF_SMALL).collect(),
        key=lambda r: r["k"],
    )
    sses = [r["sse"] for r in rows]
    assert all(x > 0 for x in sses)
    assert all(a >= b for a, b in zip(sses, sses[1:])), sses


def test_kmeanspp_picks_match_numpy_replay(spark):
    """The deterministic k-means++ draw must equal a numpy replay of
    the same procedure (D^2 CDF + LCG uniforms), and picks are
    distinct."""
    import numpy as np
    from tests.conftest import SF_SMALL
    from spark_clustering_spark.functions.rng import py_lcg_uniform
    from spark_clustering_spark.operators.clustering import KPP_K, KPP_SEED
    import __spark_entry__ as e

    rows = sorted(
        e.queries()["q_ml_kmeanspp_init"](spark, SF_SMALL).collect(),
        key=lambda r: r["sel"],
    )
    got = [r["vec_id"] for r in rows]
    assert len(set(got)) == KPP_K and got[0] == 0
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").collect()
    }
    ids = sorted(i for i in emb if i != 0)
    md = {i: float(np.linalg.norm(emb[i] - emb[0])) ** 2 for i in ids}
    picks = [0]
    for t in range(2, KPP_K + 1):
        cum, acc = {}, 0.0
        for i in ids:
            acc += md[i]
            cum[i] = acc
        u = py_lcg_uniform(t, seed=KPP_SEED) * acc
        pick = next(i for i in ids if cum[i] >= u)
        picks.append(pick)
        ids = [i for i in ids if i != pick]
        for i in ids:
            md[i] = min(md[i], float(np.linalg.norm(emb[i] - emb[pick])) ** 2)
    assert got == picks


def test_davies_bouldin_cross_check(spark):
    """Per-cluster scatter and R_max recomputed in numpy on the same
    deterministic assignment."""
    import numpy as np
    from tests.conftest import SF_SMALL
    import __spark_entry__ as e

    rows = {r["cid"]: r for r in e.queries()["q_ml_davies_bouldin"](spark, SF_SMALL).collect()}
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").collect()
    }
    k = 8
    cents = {i: emb[i] for i in sorted(emb)[:k]}
    members = {c: [] for c in cents}
    for i, v in emb.items():
        best = min(cents, key=lambda c: (float(np.linalg.norm(v - cents[c])), c))
        members[best].append(i)
    S = {
        c: float(np.mean([np.linalg.norm(emb[i] - cents[c]) for i in m]))
        for c, m in members.items() if m
    }
    for c in S:
        R = max(
            (S[c] + S[o]) / float(np.linalg.norm(cents[c] - cents[o]))
            for o in S if o != c
        )
        assert abs(rows[c]["scatter"] - S[c]) < 1e-3
        assert abs(rows[c]["r_max"] - R) < 1e-3


class TestFitKmeansMllibSurface:
    def test_declared_query_invariants(self, spark):
        """The declared fit_kmeans_mllib surface: k non-empty clusters
        partitioning the corpus, non-negative Q4 (unsquared) cost, and
        total cost no worse than the single-centroid baseline."""
        from pyspark.sql import functions as F

        import __spark_entry__ as e
        from spark_clustering_spark.functions.distance import euclidean
        from spark_clustering_spark.operators.clustering import points_df
        from tests.conftest import SF_SMALL

        out = e.queries()["fit_kmeans_mllib"](spark, SF_SMALL).collect()
        pts = points_df(spark, SF_SMALL)
        n = pts.count()
        assert 1 <= len(out) <= 8
        assert sum(r["n_points"] for r in out) == n
        assert all(r["n_points"] > 0 and r["cost"] >= 0 for r in out)
        mean = pts.agg(
            F.array(
                *[
                    F.avg(F.col("vec")[i])
                    for i in range(len(pts.first()["vec"]))
                ]
            ).alias("m")
        ).first()["m"]
        baseline = pts.agg(
            F.sum(euclidean(F.col("vec"), F.lit(mean).cast("array<double>")))
        ).first()[0]
        assert sum(r["cost"] for r in out) <= baseline + 1e-9


class TestGMMMllib:
    def test_comembership_vs_kernel_em(self, spark, tiny_points):
        """MLlib GaussianMixture's hard assignments match the spherical
        kernel-EM loop's argmax responsibilities up to label permutation
        on the well-separated fixture (the fit_kmeans_mllib
        cross-check pattern applied to the GMM surface).

        MLlib initializes from ``takeSample(k·5, seed)``, whose draw
        depends on the input's partitioning, and with 4 points per blob
        full-covariance EM has near-singular optima of HIGHER likelihood
        than the three blobs — so which optimum it reaches depends on
        layout and seed together. Both are pinned: one partition in
        vec_id order (the same on every host and in any test order) and
        a seed that starts EM in the three-blob basin there."""
        import numpy as np

        from spark_clustering_spark.ml.gmm import fit_gmm, fit_gmm_mllib

        rows = tiny_points.orderBy("vec_id").collect()
        pinned = spark.createDataFrame(rows, tiny_points.schema).coalesce(1)
        ours = fit_gmm(spark, pinned, k=3, num_iter=8, sigma2=1.0)
        means = np.array(ours.means)
        pts = {r["vec_id"]: np.array(list(r["vec"])) for r in rows}
        a = {
            i: int(((v - means) ** 2).sum(axis=1).argmin())
            for i, v in pts.items()
        }
        _, pred = fit_gmm_mllib(spark, pinned, k=3, num_iter=30, seed=43)
        b = {r["vec_id"]: r["cluster_id"] for r in pred.collect()}
        ids = sorted(a)
        for i in ids:
            for j in ids:
                assert (a[i] == a[j]) == (b[i] == b[j]), (i, j)

    def test_declared_surface_invariants(self, spark):
        """The declared fit_gmm_mllib surface: components partition the
        corpus, weights sum to 1, and soft responsibility masses sum to
        the corpus size (EM's mass-conservation invariant)."""
        import __spark_entry__ as e
        from spark_clustering_spark.operators.clustering import points_df

        out = e.queries()["fit_gmm_mllib"](spark, SF_SMALL).collect()
        n = points_df(spark, SF_SMALL).count()
        assert 1 <= len(out) <= 8
        assert sum(r["n_points"] for r in out) == n
        assert abs(sum(r["weight"] for r in out) - 1.0) < 1e-6
        # responsibility mass over hard-assigned rows is <= n and > 0
        total_mass = sum(r["resp_mass"] for r in out)
        assert 0 < total_mass <= n + 1e-6
        assert all(r["weight"] > 0 for r in out)


class TestConvergenceTol:
    """VERDICT r5 task 3: tol-based convergence stopping across the
    three reference fits. tol=0 must reproduce the fixed-iteration
    history exactly; a huge tol stops after the first comparable
    iteration with a prefix-identical history."""

    def test_kmeans_tol_zero_identical_and_tol_stops(self, spark, points):
        from spark_clustering_spark.ml.kmeans import fit_kmeans

        base = fit_kmeans(spark, points, k=4, num_iter=6, seed=42)
        same = fit_kmeans(spark, points, k=4, num_iter=6, seed=42, tol=0.0)
        assert base.history == same.history
        early = fit_kmeans(spark, points, k=4, num_iter=6, seed=42, tol=1e12)
        assert len(early.history) < len(base.history)
        assert early.history == base.history[: len(early.history)]

    def test_gka_tol_zero_identical_and_tol_stops(self, spark, points):
        from spark_clustering_spark.ml.gka import fit_gka

        base = fit_gka(spark, points, k=4, pop=4, num_gen=4, seed=11)
        same = fit_gka(spark, points, k=4, pop=4, num_gen=4, seed=11, tol=0.0)
        assert base.history == same.history
        early = fit_gka(spark, points, k=4, pop=4, num_gen=4, seed=11, tol=1e12)
        assert len(early.history) == 2  # gen 0 never stops; gen 1 converges
        assert early.history == base.history[:2]

    def test_pso_tol_zero_identical_and_tol_stops(self, spark, points):
        from spark_clustering_spark.ml.pso import fit_pso

        base = fit_pso(spark, points, k=4, num_particles=4, num_iter=4, seed=7)
        same = fit_pso(
            spark, points, k=4, num_particles=4, num_iter=4, seed=7, tol=0.0
        )
        assert base.history == same.history
        early = fit_pso(
            spark, points, k=4, num_particles=4, num_iter=4, seed=7, tol=1e12
        )
        assert len(early.history) == 2
        assert early.history == base.history[:2]


class TestFitGkaRefConfigSurface:
    def test_declared_query_invariants(self, spark):
        """The declared fit_gka_ref_config surface: 5 generations of
        R20-schema metrics with a monotone non-increasing best."""
        import __spark_entry__ as e

        out = e.queries()["fit_gka_ref_config"](spark, SF_SMALL)
        assert [f.name for f in out.schema.fields] == [
            "gen",
            "best_objectvalue",
            "gen_ms",
        ]
        rows = out.collect()
        assert [r.gen for r in rows] == list(range(5))
        bests = [r.best_objectvalue for r in rows]
        assert all(a >= b for a, b in zip(bests, bests[1:])), bests
        assert all(b > 0 for b in bests)
