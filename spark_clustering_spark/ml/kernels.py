"""Vectorized per-partition kernels for the iterative fit loops.

The oracle-checked operators (operators/clustering.py) use pure
DataFrame expressions — the right parity surface. The fit loops' hot
path uses these Arrow-batched kernels instead, because:

- assignment + centroid-update as DataFrame ops costs a broadcast join,
  interpreted array-HOF folds, a posexplode to n·d rows, and a shuffle
  keyed on (cluster, dim) — the exploded shuffle grows linearly with
  data size;
- the kernel computes assignment (BLAS distance matrix) AND the partial
  per-cluster statistics inside each partition, emitting at most k rows
  per partition and center set. The only data leaving the pass is
  k·num_partitions tiny stat rows per center set → final combine. This
  is how a 100 TB Lloyd iteration must look: one narrow pass,
  constant-size output.

One Lloyd kernel (``lloyd_partials``) serves batch k-means, its
restarts and the streaming fit. PSO's ``pso_objectives`` needs only
the min-distance sum per particle, and GKA's per-point kernel must
emit n·P label rows, so both keep their own pass.

The engine's GEMM pair scans (near-dup, SemDeDup, exact kNN) share one
tile rule (``gemm_tile``) and the near-dup and SemDeDup scans share one
pair kernel (``cosine_pairs``); only how rows reach a task differs.

Determinism: identical data layout ⇒ identical float partial-sum order
⇒ bitwise-reproducible runs (asserted in tests). Cross-layout runs
agree to float tolerance — the hash-matched surface remains the
expression path.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np

from pyspark.sql import DataFrame

LLOYD_MULTI_SCHEMA = (
    "run INT, cluster_id INT, n_points BIGINT, sum_dist DOUBLE, "
    "sum_sq DOUBLE, sum_vec ARRAY<DOUBLE>"
)


def _dist_matrix(V: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Pairwise L2 distances |V_i - C_j| via the expanded dot-product
    identity (one GEMM instead of a per-pair loop)."""
    sq = (V * V).sum(1)[:, None] + (C * C).sum(1)[None, :] - 2.0 * (V @ C.T)
    np.maximum(sq, 0.0, out=sq)
    return np.sqrt(sq)


def _driver_combine(
    partial: DataFrame,
    key_fields: tuple[str, ...],
    scalar_fields: tuple[str, ...],
    vec_field: str | None = None,
) -> dict[tuple, list]:
    """Final combine of map-side partial stats on the driver.

    The alternative — groupBy().agg() with one F.sum per vector dim —
    costs a shuffle stage plus whole-stage codegen of a d-wide
    aggregate on EVERY call (~0.5s warm, ~2s on first compile). The
    partial pass already reduced data-sized input to at most
    keys × num_partitions tiny rows, so collecting those and summing in
    numpy is cheaper at any data scale. Accumulation follows collect
    order (partition order) — deterministic for a fixed layout, the
    same guarantee the kernel tests assert."""
    acc: dict[tuple, list] = {}
    for r in partial.collect():
        key = tuple(int(r[k]) for k in key_fields)
        e = acc.get(key)
        if e is None:
            e = acc[key] = [0] * len(scalar_fields) + (
                [np.zeros(len(r[vec_field]))] if vec_field else []
            )
        for i, s in enumerate(scalar_fields):
            e[i] += r[s]
        if vec_field:
            e[-1] += np.asarray(r[vec_field], dtype=np.float64)
    return acc


def lloyd_partials(
    points: DataFrame, centers_stack: dict[int, np.ndarray]
) -> DataFrame:
    """The Lloyd half-iteration, map-side, for one or more independent
    center sets (runs): per partition, assign every vector to the
    nearest center of each run (ties → lower cluster id, matching the
    expression path) and emit one partial-stat row per non-empty
    (run, cluster) — at most R·k rows per partition, whatever the
    partition's size. ``points``: (vec_id, vec array<double>);
    ``centers_stack``: {run_id: (k, d) ndarray}."""
    bc = points.sparkSession.sparkContext.broadcast(
        {int(r): np.asarray(c, dtype=np.float64) for r, c in centers_stack.items()}
    )

    def kernel(batches) -> Iterator:
        import pandas as pd

        stacks = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(list(pdf["vec"]), dtype=np.float64)
            out = {
                "run": [], "cluster_id": [], "n_points": [],
                "sum_dist": [], "sum_sq": [], "sum_vec": [],
            }
            for run, C in stacks.items():
                D = _dist_matrix(V, C)
                lab = D.argmin(axis=1)  # argmin returns FIRST min → lower cid on ties
                md = D[np.arange(len(V)), lab]
                for c in range(C.shape[0]):
                    m = lab == c
                    n = int(m.sum())
                    if not n:
                        continue
                    out["run"].append(run)
                    out["cluster_id"].append(c)
                    out["n_points"].append(n)
                    out["sum_dist"].append(float(md[m].sum()))
                    out["sum_sq"].append(float((md[m] * md[m]).sum()))
                    out["sum_vec"].append(V[m].sum(axis=0).tolist())
            yield pd.DataFrame(out)

    return points.mapInPandas(kernel, LLOYD_MULTI_SCHEMA)


def lloyd_iteration_multi(
    points: DataFrame, centers_stack: dict[int, np.ndarray]
) -> dict[int, list[dict]]:
    """One Lloyd iteration for every run of ``centers_stack`` in ONE
    pass: ``lloyd_partials`` plus the driver combine of its
    ≤ R·k·num_partitions rows. Per-run math is independent, so each
    run's stats equal a one-run call exactly (asserted in tests).

    ``fit_kmeans`` runs one run per restart (one job per iteration
    instead of one per (run, iteration)); ``fit_kmeans_stream`` one
    run per micro-batch. Returns {run_id: [{cluster_id, n_points,
    sum_dist, sum_sq, mean(list)} per non-empty cluster, in cluster
    order]}."""
    acc = _driver_combine(
        lloyd_partials(points, centers_stack),
        ("run", "cluster_id"),
        ("n_points", "sum_dist", "sum_sq"),
        "sum_vec",
    )
    out: dict[int, list[dict]] = {int(r): [] for r in centers_stack}
    for (run, cid), (n, sd, ss, sv) in sorted(acc.items()):
        out[run].append(
            {
                "cluster_id": cid,
                "n_points": int(n),
                "sum_dist": float(sd),
                "sum_sq": float(ss),
                "mean": [s / n for s in sv],
            }
        )
    return out


PARTICLE_OBJ_SCHEMA = "pid INT, partial_obj DOUBLE"


def pso_objectives(points: DataFrame, X: np.ndarray) -> np.ndarray:
    """All-particle objective evaluation in one narrow pass: per
    partition, a (batch × k) distance matrix per particle (BLAS),
    partial Σ min-dist per particle; final combine is P tiny rows.
    ``X``: (P, k, d). Returns (P,) objectives (Q4: unsquared sums).

    The same nearest-centroid rule as ``lloyd_partials``, kept apart
    because PSO needs only the min-distance sum: one run per particle
    through the Lloyd kernel pays its per-cluster statistics too, which
    made the 20-particle ``fit_pso_ref_config`` ~11% slower (sf0.1,
    4 cores)."""
    P = X.shape[0]
    bc = points.sparkSession.sparkContext.broadcast(X)

    def kernel(batches) -> Iterator:
        import pandas as pd

        Xl = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(list(pdf["vec"]), dtype=np.float64)
            objs = [
                float(_dist_matrix(V, Xl[p]).min(axis=1).sum())
                for p in range(Xl.shape[0])
            ]
            yield pd.DataFrame({"pid": list(range(Xl.shape[0])), "partial_obj": objs})

    partial = points.mapInPandas(kernel, PARTICLE_OBJ_SCHEMA)
    acc = _driver_combine(partial, ("pid",), ("partial_obj",))
    out = np.zeros(P)
    for (pid,), (obj,) in acc.items():
        out[pid] = obj
    return out


GKA_CENTER_STATS_SCHEMA = (
    "member_id INT, label INT, n_points BIGINT, sum_vec ARRAY<DOUBLE>"
)


def gka_member_centers(
    labels: DataFrame, points: DataFrame
) -> dict[int, dict[int, list[float]]]:
    """KMO center update for every member in one pass: join labels to
    points (broadcast-friendly: the per-partition work is a segmented
    sum), map-side partial (member,label) sums, final combine of
    ≤ P·k·num_partitions tiny rows. Returns {member: {label: mean}}."""
    j = labels.join(points, "vec_id").select("member_id", "label", "vec")

    def kernel(batches) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(list(pdf["vec"]), dtype=np.float64)
            key = (
                pdf["member_id"].to_numpy().astype(np.int64) * 100_000
                + pdf["label"].to_numpy()
            )
            uniq, counts, sums = _segmented_sums(key, V)
            yield pd.DataFrame(
                {
                    "member_id": (uniq // 100_000).astype(np.int32),
                    "label": (uniq % 100_000).astype(np.int32),
                    "n_points": counts,
                    "sum_vec": [s.tolist() for s in sums],
                }
            )

    partial = j.mapInPandas(kernel, GKA_CENTER_STATS_SCHEMA)
    acc = _driver_combine(partial, ("member_id", "label"), ("n_points",), "sum_vec")
    out: dict[int, dict[int, list[float]]] = {}
    for (m, lab), (n, sv) in sorted(acc.items()):
        out.setdefault(m, {})[lab] = [s / n for s in sv]
    return out


def _segmented_sums(
    keys: np.ndarray, V: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-key (count, vector-sum) segmented reduction — the shared
    partial-stats kernel for the center-update passes. Returns
    (unique_keys, counts int64, sums float64[len(unique), d])."""
    uniq, inv = np.unique(keys, return_inverse=True)
    sums = np.zeros((len(uniq), V.shape[1]))
    np.add.at(sums, inv, V)
    counts = np.bincount(inv, minlength=len(uniq)).astype(np.int64)
    return uniq, counts, sums


# assignment rows are kind=0 (n_points, sum_vec NULL); per-partition
# center partials are kind=1 (vec_id, dist, mdist NULL)
GKA_ASSIGN_SCHEMA = (
    "member_id INT, vec_id BIGINT, label INT, dist DOUBLE, mdist DOUBLE, "
    "kind TINYINT, n_points BIGINT, sum_vec ARRAY<DOUBLE>"
)


def gka_reassign(
    points: DataFrame,
    centers_by_member: dict[int, dict[int, list]],
    mutation_targets: dict[int, int] | None = None,
) -> DataFrame:
    """KMO reassignment for every member in one narrow pass: per
    partition, one distance matrix per member against its own centers.
    ``centers_by_member``: {member_id: {cid: center_list}}. Returns the
    (member, vec) assignment table (n·P kind=0 rows — inherent to GKA).

    ``mutation_targets`` ({member: label}, drawable before this job
    because the mutation-target draw depends only on (member, gen,
    seed)): for those members, ``mdist`` carries each point's distance
    to the target label's center — a free column copy out of the
    already-computed distance matrix that saves the fit loop a separate
    gene-vector lookup job per generation. ``mdist`` is NaN when the
    member has no target or the target label has no center (the Q9
    missing-center guard: caller keeps the old distance).

    Beside the assignment rows, each partition emits one kind=1 row
    per (member, new-label) holding the partial point count + vector
    sum of the fresh assignment — the same segmented sums
    ``gka_member_centers`` computes, but for free out of the V already
    in hand. The fit loop collects these with the fitness pass, applies
    the mutation patch and the selection remap to the sums
    ARITHMETICALLY on the driver (they are linear in membership), and
    derives the next generation's centers without a dedicated
    shuffle+kernel job."""
    prepared = {
        m: (np.array(sorted(cs)), np.array([cs[c] for c in sorted(cs)], dtype=np.float64))
        for m, cs in centers_by_member.items()
    }
    targets = dict(mutation_targets or {})
    bc = points.sparkSession.sparkContext.broadcast((prepared, targets))

    def kernel(batches) -> Iterator:
        import pandas as pd

        prep, targ = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(list(pdf["vec"]), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy()
            frames = []
            for m, (cids, C) in prep.items():
                D = _dist_matrix(V, C)
                idx = D.argmin(axis=1)
                t = targ.get(m)
                tpos = int(np.searchsorted(cids, t)) if t is not None else -1
                if t is not None and tpos < len(cids) and cids[tpos] == t:
                    mdist = D[:, tpos]
                else:
                    mdist = np.full(len(V), np.nan)
                labels = cids[idx].astype(np.int32)
                uniq, counts, sums = _segmented_sums(labels.astype(np.int64), V)
                frames.append(
                    pd.DataFrame(
                        {
                            "member_id": np.full(len(V), m, dtype=np.int32),
                            "vec_id": ids,
                            "label": labels,
                            "dist": D[np.arange(len(V)), idx],
                            "mdist": mdist,
                            "kind": np.int8(0),
                            "n_points": pd.array([None] * len(V), dtype="Int64"),
                            "sum_vec": None,
                        }
                    )
                )
                frames.append(
                    pd.DataFrame(
                        {
                            "member_id": np.full(len(uniq), m, dtype=np.int32),
                            "vec_id": pd.array([None] * len(uniq), dtype="Int64"),
                            "label": uniq.astype(np.int32),
                            "dist": np.nan,
                            "mdist": np.nan,
                            "kind": np.int8(1),
                            "n_points": counts,
                            "sum_vec": [s.tolist() for s in sums],
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return points.mapInPandas(kernel, GKA_ASSIGN_SCHEMA)


GMM_STATS_SCHEMA = (
    "cid INT, rsum DOUBLE, wx ARRAY<DOUBLE>, llp DOUBLE"
)


def gmm_soft_stats(
    points: DataFrame,
    centers: np.ndarray,
    weights: np.ndarray,
    sigma2: float,
) -> tuple[dict[int, tuple[float, np.ndarray]], float]:
    """One spherical-GMM EM half-iteration, kernel-side: per
    partition, compute likelihoods l_ic = w_c·exp(−|x−μ_c|²/2σ²) in
    one BLAS distance matrix, reduce to k partial rows of
    (Σᵢ r_ic, Σᵢ r_ic·xᵢ) plus the partition's observed-data
    log-likelihood Σᵢ ln Σ_c l_ic (carried on the cid=0 row) — the
    R19 inversion applied to soft assignment: only k·(d+2) floats per
    partition ever shuffle, the points never move.

    Returns ({cid: (rsum, wx_vector)}, loglik) combined driver-side in
    collect (partition) order — same determinism envelope as
    ``lloyd_iteration_multi``. The hash-verified single-step surfaces
    (q_ml_gmm_estep/_mstep/_loglik, operators/clustering.py) keep the
    decimal-exact expression path; this kernel is the production fit
    loop (ml/gmm.py), the SemDeDup-style oracle-path/scale-path
    split."""
    k, d = centers.shape
    sc = points.sparkSession.sparkContext
    bc = sc.broadcast((centers, np.asarray(weights, dtype=np.float64)))

    def kernel(batches) -> Iterator:
        import pandas as pd

        C, W = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(list(pdf["vec"]), dtype=np.float64)
            D = _dist_matrix(V, C)
            # log-space with a per-row max shift: for a point far from
            # every center (or tiny sigma2) the unshifted w·exp(−d²/2σ²)
            # underflows to 0 for ALL components, giving z=0 → −inf
            # loglik and 0/0 NaN responsibilities. exp(logL − m) keeps
            # the winning component at exp(0)=1, so z ≥ 1 always.
            with np.errstate(divide="ignore"):  # w=0 → logw=−inf → r=0, the right limit
                logw = np.log(W)
            logL = logw[None, :] - (D * D) / (2.0 * sigma2)
            m = logL.max(axis=1)
            E = np.exp(logL - m[:, None])
            z = E.sum(axis=1)
            ll = float((m + np.log(z)).sum())
            R = E / z[:, None]
            rsum = R.sum(axis=0)
            WX = R.T @ V  # (k, d) responsibility-weighted sums
            yield pd.DataFrame(
                {
                    "cid": np.arange(k, dtype=np.int32),
                    "rsum": rsum,
                    "wx": [row.tolist() for row in WX],
                    "llp": [ll] + [0.0] * (k - 1),
                }
            )

    partial = points.mapInPandas(kernel, GMM_STATS_SCHEMA)
    acc = _driver_combine(partial, ("cid",), ("rsum", "llp"), "wx")
    stats: dict[int, tuple[float, np.ndarray]] = {}
    loglik = 0.0
    for (cid,), (rs, llp, wx) in sorted(acc.items()):
        stats[cid] = (float(rs), wx)
        loglik += float(llp)
    return stats, loglik


# Per-task byte budget for a GEMM score tile (rows_a x rows_b doubles).
# 8 MiB keeps the whole working set (the tile + the A/B slabs) well
# under typical executor task memory while still amortizing the Arrow
# batch overhead.
GEMM_TILE_BYTES = 8 << 20


def gemm_tile(d: int) -> int:
    """Rows per side of a GEMM tile over d-dim vectors: cap² score
    doubles ≤ GEMM_TILE_BYTES and a cap×d input slab ≤
    GEMM_TILE_BYTES/4, so per-task memory is constant at any corpus
    size and the task count grows linearly with the pair count."""
    elems = GEMM_TILE_BYTES // 8
    return max(min(math.isqrt(elems), elems // max(4 * d, 1)), 1)


def unit_rows(vecs) -> np.ndarray:
    """The vectors of an array<double> column as a float64 matrix with
    unit-norm rows (a zero row stays zero)."""
    X = np.array(list(vecs), dtype=np.float64)
    nrm = np.linalg.norm(X, axis=1)
    nrm[nrm == 0.0] = 1.0
    return X / nrm[:, None]


def cosine_pairs(
    ids_a: np.ndarray,
    A: np.ndarray,
    ids_b: np.ndarray,
    B: np.ndarray,
    threshold: float,
    diag: bool,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(min id, max id, score) arrays for every row pair of A × B whose
    dot product is ≥ ``threshold``, scored in ``gemm_tile``² tiles.

    ``diag``: A and B start at the same row of one matrix (B may run
    further). Tiles below the diagonal are then skipped and a diagonal
    tile keeps its upper triangle by row index, so each unordered pair
    is scored once. Any other tile keeps every pair of distinct ids."""
    cap = gemm_tile(A.shape[1])
    parts = []
    for alo in range(0, len(A), cap):
        ia, Ai = ids_a[alo : alo + cap], A[alo : alo + cap]
        for blo in range(alo if diag else 0, len(B), cap):
            ib = ids_b[blo : blo + cap]
            S = Ai @ B[blo : blo + cap].T
            keep = (S >= threshold) & (ia[:, None] != ib[None, :])
            if diag and alo == blo:
                keep = np.triu(keep, 1)
            ai, bi = np.nonzero(keep)
            if len(ai):
                xa, xb = ia[ai], ib[bi]
                parts.append((np.minimum(xa, xb), np.maximum(xa, xb), S[ai, bi]))
    if not parts:
        return np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0)
    return tuple(np.concatenate(c) for c in zip(*parts))
