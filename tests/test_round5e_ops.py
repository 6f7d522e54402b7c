"""Round-5e operators: rank-sum AUC, confusion metrics, decision
stump, interval merge, purchase sequence, reservoir sample.

Each test recomputes the operator's answer independently (brute-force
Python over the sf0.001 tables) — the same
oracle-beside-the-implementation strategy as the rest of the suite.
"""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

from tests.conftest import SF_SMALL


def test_auc_matches_brute_force_pairwise(spark):
    from spark_clustering_spark.io import table
    from spark_clustering_spark.operators.clustering import q_ml_auc

    got = q_ml_auc(spark, SF_SMALL).collect()[0]
    rows = table(spark, SF_SMALL, "orders").select(
        "o_orderstatus", "o_totalprice"
    ).collect()
    pos = [float(r.o_totalprice) for r in rows if r.o_orderstatus == "F"]
    neg = [float(r.o_totalprice) for r in rows if r.o_orderstatus != "F"]
    assert got.n_pos == len(pos) and got.n_neg == len(neg)
    wins = sum(1 for p in pos for q in neg if p > q)
    ties = sum(1 for p in pos for q in neg if p == q)
    auc = (wins + 0.5 * ties) / (len(pos) * len(neg))
    assert abs(got.auc - auc) < 1e-6
    assert 0.0 <= got.auc <= 1.0


def test_confusion_matches_mean_split(spark):
    from spark_clustering_spark.io import table
    from spark_clustering_spark.operators.clustering import q_ml_confusion

    got = q_ml_confusion(spark, SF_SMALL).collect()[0]
    rows = table(spark, SF_SMALL, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    ).collect()
    pts = [
        (
            1 if r.l_returnflag == "R" else 0,
            math.log(float(r.l_extendedprice) / float(r.l_quantity)),
        )
        for r in rows
        if r.l_quantity > 0 and r.l_extendedprice > 0
    ]
    mz = sum(z for _, z in pts) / len(pts)
    tp = sum(1 for y, z in pts if y == 1 and z >= mz)
    fp = sum(1 for y, z in pts if y == 0 and z >= mz)
    fn = sum(1 for y, z in pts if y == 1 and z < mz)
    tn = sum(1 for y, z in pts if y == 0 and z < mz)
    # mz accumulates in float here vs exact decimal in the query — rows
    # exactly at the boundary could flip, so allow a tiny count slack
    assert abs(got.tp - tp) <= 1
    assert abs(got.fp - fp) <= 1
    assert abs(got.fn - fn) <= 1
    assert abs(got.tn - tn) <= 1
    assert got.tp + got.fp + got.fn + got.tn == len(pts)
    assert abs(got.precision_ - got.tp / (got.tp + got.fp)) < 1e-6
    assert abs(got.recall_ - got.tp / (got.tp + got.fn)) < 1e-6
    assert (
        abs(got.f1 - 2 * got.tp / (2 * got.tp + got.fp + got.fn)) < 1e-6
    )


def test_decision_stump_is_argmax_over_all_boundaries(spark):
    from spark_clustering_spark.io import table
    from spark_clustering_spark.operators.clustering import (
        STUMP_BINS_PER_UNIT,
        q_ml_decision_stump,
    )

    got = q_ml_decision_stump(spark, SF_SMALL).collect()[0]
    rows = table(spark, SF_SMALL, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    ).collect()
    bins: dict[int, list[int]] = defaultdict(lambda: [0, 0])
    for r in rows:
        if r.l_quantity > 0 and r.l_extendedprice > 0:
            z = math.log(float(r.l_extendedprice) / float(r.l_quantity))
            b = math.floor(z * STUMP_BINS_PER_UNIT)
            bins[b][0] += 1
            bins[b][1] += 1 if r.l_returnflag == "R" else 0
    n = sum(c for c, _ in bins.values())
    p = sum(q for _, q in bins.values())
    best = None
    nl = pl = 0
    for b in sorted(bins):
        nl += bins[b][0]
        pl += bins[b][1]
        nr, pr = n - nl, p - pl
        if nr == 0:
            break
        score = (pl * pl + (nl - pl) ** 2) / nl + (
            pr * pr + (nr - pr) ** 2
        ) / nr
        if best is None or score > best[0]:
            best = (score, b, nl, pl, nr, pr)
    assert got.split_bin == best[1]
    assert (got.n_left, got.pos_left) == (best[2], best[3])
    assert (got.n_right, got.pos_right) == (best[4], best[5])
    assert abs(got.score - best[0]) < 1e-5
    # sanity: the winning split actually improves on the no-split score
    assert best[0] > (p * p + (n - p) ** 2) / n


def test_interval_merge_matches_sequential_sweep(spark):
    from spark_clustering_spark.io import table
    from spark_clustering_spark.operators.timeseries import (
        q_ts_interval_merge,
    )

    got = {
        r.user_id: r for r in q_ts_interval_merge(spark, SF_SMALL).collect()
    }
    ev = table(spark, SF_SMALL, "events").selectExpr(
        "user_id", "unix_micros(ts) AS s", "value"
    ).collect()
    per_user: dict[int, list[tuple[int, int]]] = defaultdict(list)
    for r in ev:
        s = int(r.s)
        per_user[r.user_id].append((s, s + math.floor(r.value * 60000000.0)))
    assert set(got) == set(per_user)
    for uid, ivls in per_user.items():
        ivls.sort()
        islands = []
        for s, e in ivls:
            if islands and s <= islands[-1][1]:
                islands[-1][1] = max(islands[-1][1], e)
            else:
                islands.append([s, e])
        g = got[uid]
        assert g.n_intervals == len(islands)
        assert g.covered_us == sum(e - s for s, e in islands)
        assert g.n_events == len(ivls)
        # union can never exceed the sum of the raw lengths
        assert g.covered_us <= sum(e - s for s, e in ivls)


def test_purchase_sequence_matches_dict_replay(spark):
    from spark_clustering_spark.io import table
    from spark_clustering_spark.operators.olap import (
        SEQ_BRAND_A,
        SEQ_BRAND_B,
        q_olap_purchase_sequence,
    )

    got = {
        r.nation: r for r in q_olap_purchase_sequence(spark, SF_SMALL).collect()
    }
    li = table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).collect()
    orders = {
        r.o_orderkey: (r.o_custkey, r.o_orderdate)
        for r in table(spark, SF_SMALL, "orders").collect()
    }
    brand = {
        r.p_partkey: r.p_brand
        for r in table(spark, SF_SMALL, "part").collect()
    }
    nation_of = {}
    nname = {
        r.n_nationkey: r.n_name
        for r in table(spark, SF_SMALL, "nation").collect()
    }
    for r in table(spark, SF_SMALL, "customer").collect():
        nation_of[r.c_custkey] = nname[r.c_nationkey]
    first: dict[int, list] = defaultdict(lambda: [None, None])
    for r in li:
        b = brand.get(r.l_partkey)
        if b not in (SEQ_BRAND_A, SEQ_BRAND_B):
            continue
        cust, dt = orders[r.l_orderkey]
        idx = 0 if b == SEQ_BRAND_A else 1
        cur = first[cust][idx]
        if cur is None or dt < cur:
            first[cust][idx] = dt
    agg = defaultdict(lambda: [0, 0, 0, 0])
    for cust, (fa, fb) in first.items():
        a = agg[nation_of[cust]]
        if fa is not None and fb is not None and fa < fb:
            a[0] += 1
        if fa is not None and fb is not None:
            a[1] += 1
        if fa is not None:
            a[2] += 1
        if fb is not None:
            a[3] += 1
    assert set(got) == set(agg)
    for nat, (ab, both, na, nb) in agg.items():
        g = got[nat]
        assert (g.n_a_then_b, g.n_both, g.n_bought_a, g.n_bought_b) == (
            ab,
            both,
            na,
            nb,
        )


def test_reservoir_is_k_smallest_hashes(spark):
    from spark_clustering_spark.io import table
    from spark_clustering_spark.pipeline.sampling import (
        RESERVOIR_K,
        q_sample_reservoir,
    )

    res = q_sample_reservoir(spark, SF_SMALL).collect()
    doc_ids = [
        r.doc_id
        for r in table(spark, SF_SMALL, "documents").select("doc_id").collect()
    ]
    k = min(RESERVOIR_K, len(doc_ids))
    assert len(res) == k

    def h(d: int) -> int:
        return int(hashlib.md5(f"rsv{d}".encode()).hexdigest()[:8], 16)

    expect = sorted(doc_ids, key=lambda d: (h(d), d))[:k]
    assert [r.doc_id for r in sorted(res, key=lambda r: r.draw)] == expect
    assert sorted(r.draw for r in res) == list(range(1, k + 1))


def test_knn_classify_matches_numpy_vote(spark):
    import numpy as np

    from spark_clustering_spark.io import table
    from spark_clustering_spark.pipeline.similarity import (
        KNN_K,
        KNN_MOD,
        q_ml_knn_classify,
    )

    got = {r.label: r for r in q_ml_knn_classify(spark, SF_SMALL).collect()}
    rows = table(spark, SF_SMALL, "embeddings").collect()
    ids = np.array([r.vec_id for r in rows])
    labels = np.array([r.label for r in rows])
    mat = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cos = mat @ mat.T
    agg: dict[int, list[int]] = {}
    for i in np.where(ids % KNN_MOD == 0)[0]:
        order = sorted(
            (j for j in range(len(ids)) if j != i),
            key=lambda j: (-cos[i, j], ids[j]),
        )[:KNN_K]
        votes: dict[int, int] = {}
        for j in order:
            votes[labels[j]] = votes.get(labels[j], 0) + 1
        pred = min(votes, key=lambda l: (-votes[l], l))
        a = agg.setdefault(labels[i], [0, 0])
        a[0] += 1
        a[1] += 1 if pred == labels[i] else 0
    assert set(got) == set(agg)
    for lbl, (nv, nc) in agg.items():
        g = got[lbl]
        assert (g.n_vecs, g.n_correct) == (nv, nc)
        assert abs(g.accuracy - nc / nv) < 1e-6


def test_iqr_outliers_matches_numpy(spark):
    import numpy as np

    from spark_clustering_spark.io import table
    from spark_clustering_spark.operators.aggregates import (
        IQR_FENCE,
        q_dq_iqr_outliers,
    )

    got = q_dq_iqr_outliers(spark, SF_SMALL).collect()[0]
    vals = np.array(
        [
            float(r.o_totalprice)
            for r in table(spark, SF_SMALL, "orders")
            .select("o_totalprice")
            .collect()
        ]
    )
    q1, q3 = np.percentile(vals, [25, 75])  # linear interpolation
    assert abs(got.q1 - q1) < 1e-2
    assert abs(got.q3 - q3) < 1e-2
    lo = q1 - IQR_FENCE * (q3 - q1)
    hi = q3 + IQR_FENCE * (q3 - q1)
    assert got.n_below == int((vals < lo).sum())
    assert got.n_above == int((vals > hi).sum())
    assert got.n_rows == len(vals)
    assert got.fence_lo < got.q1 < got.q3 < got.fence_hi


def test_spend_trend_matches_numpy_ols(spark):
    import numpy as np

    from spark_clustering_spark.io import table
    from spark_clustering_spark.operators.olap import (
        TREND_EPOCH,
        q_olap_spend_trend,
    )

    got = {r.o_custkey: r for r in q_olap_spend_trend(spark, SF_SMALL).collect()}
    orders = table(spark, SF_SMALL, "orders").collect()
    per: dict[int, dict[int, float]] = {}
    for r in orders:
        mx = r.o_orderdate.year * 12 + r.o_orderdate.month - TREND_EPOCH
        per.setdefault(r.o_custkey, {}).setdefault(mx, 0.0)
        per[r.o_custkey][mx] += round(float(r.o_totalprice), 2)
    expect = {c: m for c, m in per.items() if len(m) >= 2}
    assert set(got) == set(expect)
    for c, months in list(expect.items())[:200]:
        x = np.array(sorted(months))
        y = np.array([months[i] for i in sorted(months)])
        slope = np.polyfit(x, y, 1)[0]
        g = got[c]
        assert g.n_months == len(x)
        assert abs(g.slope - slope) < max(1e-4, abs(slope) * 1e-6)


def test_forecast_error_matches_python_replay(spark):
    from spark_clustering_spark.io import table
    from spark_clustering_spark.operators.timeseries import (
        DAY_US,
        FCST_LAG_DAYS,
        q_ts_forecast_error,
    )

    got = q_ts_forecast_error(spark, SF_SMALL).collect()[0]
    ev = table(spark, SF_SMALL, "events").selectExpr(
        f"unix_micros(ts) div {DAY_US} AS day_id", "value"
    ).collect()
    daily: dict[int, float] = defaultdict(float)
    for r in ev:
        daily[r.day_id] += float(r.value)
    pairs = [
        (daily[d], daily[d - FCST_LAG_DAYS])
        for d in daily
        if d - FCST_LAG_DAYS in daily
    ]
    assert got.n_days == len(pairs)
    sae = sum(abs(a - f) for a, f in pairs)
    saa = sum(abs(a) for a, f in pairs)
    sape = sum(abs(a - f) / abs(a) for a, f in pairs)
    sdiff = sum(f - a for a, f in pairs)
    assert abs(got.wape - sae / saa) < 1e-5
    assert abs(got.mape - sape / len(pairs)) < 1e-5
    assert abs(got.bias - sdiff / saa) < 1e-5
    assert got.wape >= abs(got.bias) - 1e-9  # |Σe| <= Σ|e|


def test_adamic_adar_matches_python_graph(spark):
    import math as _math

    from spark_clustering_spark.io import table
    from spark_clustering_spark.operators.graph import q_graph_adamic_adar

    got = q_graph_adamic_adar(spark, SF_SMALL).collect()
    li = table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct().collect()
    baskets: dict[int, set[int]] = defaultdict(set)
    for r in li:
        baskets[r.l_orderkey].add(r.l_partkey)
    edges: set[tuple[int, int]] = set()
    for parts in baskets.values():
        if len(parts) > 5:
            continue
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                edges.add((ps[i], ps[j]))
    nbrs: dict[int, set[int]] = defaultdict(set)
    for u, v in edges:
        nbrs[u].add(v)
        nbrs[v].add(u)
    w = {n: round(1.0 / _math.log(len(s)), 6) for n, s in nbrs.items() if len(s) >= 2}
    scores: dict[tuple[int, int], tuple[int, float]] = {}
    for c, s in nbrs.items():
        if len(s) < 2:
            continue
        ss = sorted(s)
        for i in range(len(ss)):
            for j in range(i + 1, len(ss)):
                key = (ss[i], ss[j])
                cnt, acc = scores.get(key, (0, 0.0))
                scores[key] = (cnt + 1, acc + w[c])
    cand = [
        (u, v, cnt, round(acc, 6))
        for (u, v), (cnt, acc) in scores.items()
        if cnt >= 2 and (u, v) not in edges
    ]
    cand.sort(key=lambda t: (-t[3], t[0], t[1]))
    expect = cand[:50]
    assert len(got) == min(50, len(cand))
    for g, (u, v, cnt, aa) in zip(got, expect):
        assert (g.u, g.v, g.common) == (u, v, cnt)
        assert abs(g.adamic_adar - aa) < 1e-5


def test_weighted_median_matches_python(spark):
    from spark_clustering_spark.io import table
    from spark_clustering_spark.operators.aggregates import (
        q_agg_weighted_median,
    )

    got = q_agg_weighted_median(spark, SF_SMALL).collect()[0]
    li = table(spark, SF_SMALL, "lineitem").select(
        "l_extendedprice", "l_quantity"
    ).collect()
    pairs = sorted((float(r.l_extendedprice), int(r.l_quantity)) for r in li)
    tot = sum(w for _, w in pairs)
    assert got.total_weight == tot
    cum = 0
    for v, w in pairs:
        cum += w
        if 2 * cum >= tot:
            assert abs(got.w_median - v) < 1e-4
            break
    # weighted median must live inside the value range
    assert pairs[0][0] <= got.w_median <= pairs[-1][0]


def test_moments_match_scipy_style_formulas(spark):
    import numpy as np

    from spark_clustering_spark.io import table
    from spark_clustering_spark.operators.aggregates import q_agg_moments

    got = {r.l_returnflag: r for r in q_agg_moments(spark, SF_SMALL).collect()}
    li = table(spark, SF_SMALL, "lineitem").select(
        "l_returnflag", "l_quantity"
    ).collect()
    groups: dict[str, list[float]] = defaultdict(list)
    for r in li:
        groups[r.l_returnflag].append(float(r.l_quantity))
    assert set(got) == set(groups)
    for flag, xs in groups.items():
        a = np.array(xs)
        mu = a.mean()
        mu2 = ((a - mu) ** 2).mean()
        mu3 = ((a - mu) ** 3).mean()
        mu4 = ((a - mu) ** 4).mean()
        g = got[flag]
        assert g.n == len(xs)
        assert abs(g.mean_qty - mu) < 1e-5
        assert abs(g.skewness - mu3 / mu2**1.5) < 1e-4
        assert abs(g.kurtosis_ex - (mu4 / mu2**2 - 3.0)) < 1e-4
        # uniform-ish quantity ⇒ platykurtic (negative excess kurtosis)
        assert g.kurtosis_ex < 0


def test_scene_change_matches_python_replay(spark):
    from spark_clustering_spark.io import table
    from spark_clustering_spark.sources.multimodal import (
        SCENE_DELTA,
        SCENE_FRAME_BYTES,
        q_multimodal_scene_change,
    )

    got = {
        r.item_id: r
        for r in q_multimodal_scene_change(spark, SF_SMALL).collect()
    }
    docs = table(spark, SF_SMALL, "documents").select("doc_id", "text").collect()
    expect = {}
    for r in docs:
        if r.doc_id % 3 != 2:
            continue
        b = r.text.encode("utf-8")
        frames = [
            b[i : i + SCENE_FRAME_BYTES]
            for i in range(0, len(b), SCENE_FRAME_BYTES)
        ]
        sums = [(sum(fr), len(fr)) for fr in frames]
        cuts = sum(
            1
            for (ps, pn), (s, n) in zip(sums, sums[1:])
            if abs(s * pn - ps * n) > SCENE_DELTA * n * pn
        )
        expect[r.doc_id] = (len(frames), cuts)
    assert set(got) == set(expect)
    for i, (nf, nc) in expect.items():
        g = got[i]
        assert (g.n_frames, g.n_scene_changes) == (nf, nc)
        assert 0 <= g.n_scene_changes < g.n_frames


def test_clustering_coeff_matches_python_graph(spark):
    from spark_clustering_spark.io import table
    from spark_clustering_spark.operators.graph import (
        q_graph_clustering_coeff,
    )

    got = q_graph_clustering_coeff(spark, SF_SMALL).collect()
    li = table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct().collect()
    baskets: dict[int, set[int]] = defaultdict(set)
    for r in li:
        baskets[r.l_orderkey].add(r.l_partkey)
    nbrs: dict[int, set[int]] = defaultdict(set)
    for parts in baskets.values():
        if len(parts) > 5:
            continue
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                nbrs[ps[i]].add(ps[j])
                nbrs[ps[j]].add(ps[i])
    rows = []
    for v, s in nbrs.items():
        d = len(s)
        if d < 2:
            continue
        ss = sorted(s)
        t = sum(
            1
            for i in range(len(ss))
            for j in range(i + 1, len(ss))
            if ss[j] in nbrs[ss[i]]
        )
        rows.append((v, d, t, round(2.0 * t / (d * (d - 1)), 6)))
    rows.sort(key=lambda r: (-r[3], -r[2], r[0]))
    expect = rows[:50]
    assert len(got) == min(50, len(rows))
    for g, (v, d, t, c) in zip(got, expect):
        assert (g.node, g.degree, g.triangles) == (v, d, t)
        assert abs(g.lcc - c) < 1e-6
        assert 0.0 <= g.lcc <= 1.0


def test_spectral_peak_is_weekly(spark):
    import math as _math

    from spark_clustering_spark.io import table
    from spark_clustering_spark.operators.timeseries import (
        DAY_US,
        SPECTRAL_PERIODS,
        q_ts_spectral_peak,
    )

    got = {
        r.period_days: r.power
        for r in q_ts_spectral_peak(spark, SF_SMALL).collect()
    }
    assert set(got) == set(SPECTRAL_PERIODS)
    assert all(p >= 0 for p in got.values())
    # independent replay with full-precision trig (weights in the
    # query are 6dp-quantized, so compare loosely)
    ev = table(spark, SF_SMALL, "events").selectExpr(
        f"unix_micros(ts) div {DAY_US} AS day_id", "value"
    ).collect()
    daily: dict[int, float] = defaultdict(float)
    for r in ev:
        daily[r.day_id] += float(r.value)
    mn = sum(daily.values()) / len(daily)
    for p in SPECTRAL_PERIODS:
        cs = sum(
            (a - mn) * _math.cos(2 * _math.pi * (d % p) / p)
            for d, a in daily.items()
        )
        sn = sum(
            (a - mn) * _math.sin(2 * _math.pi * (d % p) / p)
            for d, a in daily.items()
        )
        ref = cs * cs + sn * sn
        assert abs(got[p] - ref) < max(1.0, abs(ref) * 1e-3)


def test_truncation_recall_matches_numpy(spark):
    import numpy as np

    from spark_clustering_spark.io import table
    from spark_clustering_spark.pipeline.similarity import (
        N_PROBES,
        TOP_K,
        TRUNC_DIM,
        q_sim_truncation_recall,
    )

    got = {
        r.probe_id: r
        for r in q_sim_truncation_recall(spark, SF_SMALL).collect()
    }
    rows = table(spark, SF_SMALL, "embeddings").collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([list(r.embedding) for r in rows], dtype=np.float64)

    def topk(m):
        mm = m / np.linalg.norm(m, axis=1, keepdims=True)
        cos = mm @ mm.T
        out = {}
        for i in np.where(ids < N_PROBES)[0]:
            order = sorted(
                (j for j in range(len(ids)) if j != i),
                key=lambda j: (-cos[i, j], ids[j]),
            )[:TOP_K]
            out[ids[i]] = {ids[j] for j in order}
        return out

    full = topk(mat)
    trunc = topk(mat[:, :TRUNC_DIM])
    assert set(got) == set(full)
    for pid in full:
        hits = len(full[pid] & trunc[pid])
        g = got[pid]
        assert g.n_hits == hits
        assert abs(g.recall - hits / TOP_K) < 1e-6
        assert 0 <= g.n_hits <= TOP_K


def test_code_detect_matches_python(spark):
    import re

    from spark_clustering_spark.io import table
    from spark_clustering_spark.pipeline.textstats import (
        CODE_INDENT_HITS,
        CODE_SYM_DENSITY,
        CODE_SYM_PATTERN,
        q_text_code_detect,
    )

    got = {r.source: r for r in q_text_code_detect(spark, SF_SMALL).collect()}
    docs = table(spark, SF_SMALL, "documents").select("source", "text").collect()
    agg: dict[str, list[float]] = {}
    for r in docs:
        t = r.text
        if not t:
            continue
        n_sym = len(re.findall(CODE_SYM_PATTERN, t))
        n_indent = t.count("\n  ") + t.count("\n\t")
        dens = n_sym / len(t)
        is_code = dens >= CODE_SYM_DENSITY or n_indent >= CODE_INDENT_HITS
        a = agg.setdefault(r.source, [0, 0, 0.0])
        a[0] += 1
        a[1] += 1 if is_code else 0
        a[2] += dens
    assert set(got) == set(agg)
    for src, (n, nc, sd) in agg.items():
        g = got[src]
        assert (g.n_docs, g.n_code) == (n, nc)
        assert abs(g.code_share - nc / n) < 1e-6
        assert abs(g.avg_sym_density - sd / n) < 1e-5


def test_bpe_merge_matches_python_counts(spark):
    import re

    from spark_clustering_spark.io import table
    from spark_clustering_spark.pipeline.textstats import (
        BPE_TOP,
        q_text_bpe_merge,
    )

    got = q_text_bpe_merge(spark, SF_SMALL).collect()
    docs = table(spark, SF_SMALL, "documents").select("text").collect()
    wf: dict[str, int] = defaultdict(int)
    for r in docs:
        for w in re.findall(r"[a-z]+", r.text.lower()):
            if len(w) >= 2:
                wf[w] += 1
    cnt: dict[str, int] = defaultdict(int)
    for w, f in wf.items():
        for i in range(len(w) - 1):
            cnt[w[i : i + 2]] += f
    expect = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:BPE_TOP]
    assert len(got) == min(BPE_TOP, len(cnt))
    for g, (pair, c) in zip(got, expect):
        assert (g.pair, g.cnt) == (pair, c)
    # counting over the distinct-word table must equal corpus counting
    assert all(len(g.pair) == 2 for g in got)


def test_ncm_classify_matches_numpy(spark):
    import numpy as np

    from spark_clustering_spark.io import table
    from spark_clustering_spark.pipeline.similarity import q_ml_ncm_classify

    got = {r.label: r for r in q_ml_ncm_classify(spark, SF_SMALL).collect()}
    rows = table(spark, SF_SMALL, "embeddings").collect()
    labels = np.array([r.label for r in rows])
    mat = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    classes = sorted(set(labels))
    mus = np.stack([mat[labels == c].mean(axis=0) for c in classes])
    d2 = ((mat[:, None, :] - mus[None, :, :]) ** 2).sum(axis=2)
    pred = np.array(classes)[d2.argmin(axis=1)]
    assert set(got) == set(classes)
    for ci, c in enumerate(classes):
        sel = labels == c
        nc = int((pred[sel] == c).sum())
        g = got[c]
        assert g.n_vecs == int(sel.sum())
        assert g.n_correct == nc
        assert abs(g.accuracy - nc / sel.sum()) < 1e-6


def test_active_users_matches_python(spark):
    from spark_clustering_spark.io import table
    from spark_clustering_spark.operators.timeseries import (
        DAY_US,
        MAU_DAYS,
        WAU_DAYS,
        q_ts_active_users,
    )

    got = {r.day_id: r for r in q_ts_active_users(spark, SF_SMALL).collect()}
    ev = table(spark, SF_SMALL, "events").selectExpr(
        f"unix_micros(ts) div {DAY_US} AS day_id", "user_id"
    ).collect()
    by_day: dict[int, set[int]] = defaultdict(set)
    for r in ev:
        by_day[r.day_id].add(r.user_id)
    assert set(got) == set(by_day)
    for d, users in by_day.items():
        wau = set().union(
            *(by_day.get(d - i, set()) for i in range(WAU_DAYS))
        )
        mau = set().union(
            *(by_day.get(d - i, set()) for i in range(MAU_DAYS))
        )
        g = got[d]
        assert (g.dau, g.wau, g.mau) == (len(users), len(wau), len(mau))
        assert g.dau <= g.wau <= g.mau  # nesting invariant
        assert abs(g.stickiness - len(users) / len(mau)) < 1e-6


def test_user_streaks_matches_python(spark):
    from spark_clustering_spark.io import table
    from spark_clustering_spark.operators.timeseries import (
        DAY_US,
        q_ts_user_streaks,
    )

    got = {r.user_id: r for r in q_ts_user_streaks(spark, SF_SMALL).collect()}
    ev = table(spark, SF_SMALL, "events").selectExpr(
        "user_id", f"unix_micros(ts) div {DAY_US} AS day_id"
    ).collect()
    days: dict[int, set[int]] = defaultdict(set)
    for r in ev:
        days[r.user_id].add(r.day_id)
    assert set(got) == set(days)
    for uid, ds in days.items():
        sd = sorted(ds)
        streaks, cur = [], 1
        for a, b in zip(sd, sd[1:]):
            if b == a + 1:
                cur += 1
            else:
                streaks.append(cur)
                cur = 1
        streaks.append(cur)
        g = got[uid]
        assert g.longest_streak == max(streaks)
        assert g.n_streaks == len(streaks)
        assert g.active_days == len(ds)
        assert g.longest_streak <= g.active_days


def test_gains_curve_matches_python(spark):
    from spark_clustering_spark.io import table
    from spark_clustering_spark.operators.clustering import (
        GAINS_DECILES,
        q_ml_gains_curve,
    )

    got = {r.decile: r for r in q_ml_gains_curve(spark, SF_SMALL).collect()}
    rows = table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    ).collect()
    ranked = sorted(
        rows, key=lambda r: (-float(r.o_totalprice), r.o_orderkey)
    )
    n = len(ranked)
    base, rem = divmod(n, GAINS_DECILES)
    sizes = [base + (1 if i < rem else 0) for i in range(GAINS_DECILES)]
    tp = sum(1 for r in ranked if r.o_orderstatus == "F")
    idx, cum_n, cum_p = 0, 0, 0
    for dec, sz in enumerate(sizes, start=1):
        chunk = ranked[idx : idx + sz]
        idx += sz
        np_ = sum(1 for r in chunk if r.o_orderstatus == "F")
        cum_n += sz
        cum_p += np_
        g = got[dec]
        assert (g.n, g.n_pos) == (sz, np_)
        assert abs(g.cum_pos_share - cum_p / tp) < 1e-6
        assert abs(g.lift - (cum_p * n) / (cum_n * tp)) < 1e-6
    assert abs(got[GAINS_DECILES].cum_pos_share - 1.0) < 1e-9
    assert abs(got[GAINS_DECILES].lift - 1.0) < 1e-9


def test_asof_forward_matches_python(spark, tmp_path):
    """The generated events (January 2024) all fall after the last
    order (2001-08-01), so on the generated tables both sides are
    empty. The key runs on a copy whose events are shifted into the
    orders' date range, and the expected map must be non-empty."""
    import datetime as dt
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from spark_clustering_spark.io import table
    from spark_clustering_spark.operators.joins import q_join_asof_forward

    ev = pq.read_table(f"{SF_SMALL}/events.parquet")
    shift = pa.scalar(dt.datetime(2024, 1, 1) - dt.datetime(1998, 1, 1), pa.duration("us"))
    i = ev.schema.get_field_index("ts")
    pq.write_table(
        ev.set_column(i, "ts", pc.subtract(ev["ts"], shift)),
        tmp_path / "events.parquet",
    )
    shutil.copy(f"{SF_SMALL}/orders.parquet", tmp_path / "orders.parquet")
    sf_dir = str(tmp_path)

    got = {
        r.event_id: (r.next_date, r.next_orderkey)
        for r in q_join_asof_forward(spark, sf_dir).collect()
    }
    orders = [
        (r.o_custkey, r.o_orderdate, r.o_orderkey)
        for r in table(spark, sf_dir, "orders").collect()
    ]
    by_user: dict[int, list] = defaultdict(list)
    for c, d, k in orders:
        by_user[c].append((d, k))
    expect = {}
    for e in table(spark, sf_dir, "events").collect():
        cands = [(d, k) for d, k in by_user.get(e.user_id, []) if d >= e.ts]
        if cands:
            dmin = min(d for d, _ in cands)
            kmin = min(k for d, k in cands if d == dmin)
            expect[e.event_id] = (dmin.strftime("%Y-%m-%d"), kmin)
    assert expect
    assert got == expect


def test_readability_matches_python(spark):
    import re

    from spark_clustering_spark.io import table
    from spark_clustering_spark.pipeline.textstats import q_text_readability

    got = {r.lang: r for r in q_text_readability(spark, SF_SMALL).collect()}
    docs = table(spark, SF_SMALL, "documents").select("lang", "text").collect()
    agg: dict[str, list[int]] = defaultdict(lambda: [0, 0, 0, 0])
    for r in docs:
        if not r.text:
            continue
        w = len([t for t in re.split(r"\s+", r.text) if t])
        s = max(len(re.findall(r"[.!?]", r.text)), 1)
        y = len(re.findall(r"[aeiouy]+", r.text.lower()))
        a = agg[r.lang]
        a[0] += 1
        a[1] += w
        a[2] += s
        a[3] += y
    assert set(got) == set(agg)
    for lang, (n, w, s, y) in agg.items():
        g = got[lang]
        assert (g.n_docs, g.n_words) == (n, w)
        assert abs(g.words_per_sentence - w / s) < 1e-5
        assert abs(g.syllables_per_word - y / w) < 1e-5
        assert abs(g.flesch - (206.835 - 1.015 * w / s - 84.6 * y / w)) < 1e-3


def test_norm_profile_matches_numpy(spark):
    import numpy as np

    from spark_clustering_spark.io import table
    from spark_clustering_spark.pipeline.similarity import q_vec_norm_profile

    got = {r.label: r for r in q_vec_norm_profile(spark, SF_SMALL).collect()}
    rows = table(spark, SF_SMALL, "embeddings").collect()
    labels = np.array([r.label for r in rows])
    mat = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    nrm = np.linalg.norm(mat, axis=1)
    assert set(got) == set(np.unique(labels))
    for c in np.unique(labels):
        sel = labels == c
        g = got[int(c)]
        assert g.n_vecs == int(sel.sum())
        assert abs(g.mean_norm - nrm[sel].mean()) < 1e-4
        assert abs(g.std_norm - nrm[sel].std()) < 1e-4
        assert abs(g.mean_coord_sum - mat[sel].sum(axis=1).mean()) < 1e-4
        assert g.std_norm >= 0


def test_dedup_profile_matches_python(spark):
    from spark_clustering_spark.io import table
    from spark_clustering_spark.pipeline.dedup import q_dedup_profile

    got = q_dedup_profile(spark, SF_SMALL).collect()[0]
    docs = table(spark, SF_SMALL, "documents").select("text").collect()
    from collections import Counter

    df = Counter()
    for r in docs:
        ws = [t for t in r.text.lower().split()] if r.text else []
        grams = {
            " ".join(ws[i : i + 3]) for i in range(len(ws) - 2)
        } if len(ws) >= 3 else set()
        for g in grams:
            if g:
                df[g] += 1
    total = sum(df.values())
    dup = sum(c for c in df.values() if c >= 2)
    assert got.n_doc_shingles == total
    assert got.n_distinct == len(df)
    assert got.n_duplicated == dup
    assert abs(got.dup_share - dup / total) < 1e-6
    assert got.max_doc_freq == max(df.values())
    assert 0.0 <= got.dup_share <= 1.0


def test_psi_drift_matches_python(spark):
    import math as _math

    from spark_clustering_spark.io import table
    from spark_clustering_spark.operators.aggregates import q_ml_psi_drift

    got = q_ml_psi_drift(spark, SF_SMALL).collect()[0]
    rows = table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_totalprice"
    ).collect()
    halves: dict[int, dict[int, int]] = {0: defaultdict(int), 1: defaultdict(int)}
    for r in rows:
        if r.o_totalprice <= 0:
            continue
        c = int(round(float(r.o_totalprice) * 100))
        bucket = c.bit_length() - 1
        halves[r.o_orderkey % 2][bucket] += 1
    te, ta = sum(halves[0].values()), sum(halves[1].values())
    psi, nb = 0.0, 0
    for b in set(halves[0]) | set(halves[1]):
        ne, na = halves[0].get(b, 0), halves[1].get(b, 0)
        if ne == 0 or na == 0:
            continue
        pe, pa = ne / te, na / ta
        psi += (pa - pe) * round(_math.log(pa / pe), 6)
        nb += 1
    assert got.n_buckets == nb
    assert abs(got.psi_raw - psi) < 1e-9
    # A/A split on the same distribution: PSI must read ~stable
    assert got.psi < 0.1


def test_rrf_fusion_matches_numpy(spark):
    import numpy as np

    from spark_clustering_spark.io import table
    from spark_clustering_spark.pipeline.similarity import (
        N_PROBES,
        RRF_K,
        RRF_OUT,
        TOP_K,
        TRUNC_DIM,
        q_sim_rrf_fusion,
    )

    got = defaultdict(list)
    for r in q_sim_rrf_fusion(spark, SF_SMALL).collect():
        got[r.probe_id].append((r.rank, r.cand_id, r.rrf))
    rows = table(spark, SF_SMALL, "embeddings").collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([list(r.embedding) for r in rows], dtype=np.float64)

    def topk(m, i):
        mm = m / np.linalg.norm(m, axis=1, keepdims=True)
        cos = mm @ mm.T
        order = sorted(
            (j for j in range(len(ids)) if j != i),
            key=lambda j: (-cos[i, j], ids[j]),
        )[:TOP_K]
        return {ids[j]: r + 1 for r, j in enumerate(order)}

    for i in np.where(ids < N_PROBES)[0]:
        rf = topk(mat, i)
        rt = topk(mat[:, :TRUNC_DIM], i)
        fused = {
            c: (1.0 / (RRF_K + rf[c]) if c in rf else 0.0)
            + (1.0 / (RRF_K + rt[c]) if c in rt else 0.0)
            for c in set(rf) | set(rt)
        }
        expect = sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))[
            :RRF_OUT
        ]
        g = sorted(got[ids[i]])
        assert len(g) == min(RRF_OUT, len(fused))
        for (rank, cand, rrf), (ec, ev) in zip(g, expect):
            assert cand == ec
            assert abs(rrf - ev) < 1e-6
        # a candidate in BOTH lists must outrank one in a single list
        # at equal single-list rank (the whole point of fusion)
        assert g[0][2] >= g[-1][2]


def test_ari_stability_matches_sklearn_formula(spark):
    import numpy as np

    from spark_clustering_spark.io import table
    from spark_clustering_spark.operators.clustering import (
        K_DEFAULT,
        q_ml_ari_stability,
    )

    got = q_ml_ari_stability(spark, SF_SMALL).collect()[0]
    rows = sorted(
        (r.vec_id, np.array(list(r.embedding), dtype=np.float64))
        for r in table(spark, SF_SMALL, "embeddings").collect()
    )
    ids = np.array([i for i, _ in rows])
    mat = np.stack([v for _, v in rows])

    def assign_to(centroid_ids):
        C = mat[np.isin(ids, centroid_ids)]
        cids = ids[np.isin(ids, centroid_ids)]
        d = ((mat[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        return cids[d.argmin(axis=1)]

    a = assign_to(ids[:K_DEFAULT])
    evens = ids[ids % 2 == 0][:K_DEFAULT]
    b = assign_to(evens)
    # contingency-based ARI
    from collections import Counter

    cont = Counter(zip(a, b))
    comb2 = lambda x: x * (x - 1) // 2  # noqa: E731
    sij = sum(comb2(v) for v in cont.values())
    sa = sum(comb2(v) for v in Counter(a).values())
    sb = sum(comb2(v) for v in Counter(b).values())
    n = len(ids)
    c2n = comb2(n)
    exp = sa * sb / c2n
    ari = (sij - exp) / ((sa + sb) / 2 - exp)
    assert got.n == n
    assert got.pair_agreements == sij
    assert abs(got.ari - ari) < 1e-6
    assert -1.0 <= got.ari <= 1.0


def test_cluster_purity_matches_numpy(spark):
    import numpy as np

    from spark_clustering_spark.io import table
    from spark_clustering_spark.operators.clustering import (
        K_DEFAULT,
        q_ml_cluster_purity,
    )

    got = {
        r.cluster_id: r for r in q_ml_cluster_purity(spark, SF_SMALL).collect()
    }
    rows = sorted(
        (r.vec_id, r.label, np.array(list(r.embedding), dtype=np.float64))
        for r in table(spark, SF_SMALL, "embeddings").collect()
    )
    ids = np.array([i for i, _, _ in rows])
    labels = np.array([l for _, l, _ in rows])
    mat = np.stack([v for _, _, v in rows])
    C = mat[:K_DEFAULT]
    cids = ids[:K_DEFAULT]
    d = ((mat[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    a = cids[d.argmin(axis=1)]
    from collections import Counter

    assert set(got) == set(np.unique(a))
    for c in np.unique(a):
        sel = labels[a == c]
        cnt = Counter(sel)
        best = min(cnt, key=lambda l: (-cnt[l], l))
        g = got[c]
        assert g.n_points == len(sel)
        assert g.major_label == best
        assert g.n_major == cnt[best]
        assert abs(g.purity - cnt[best] / len(sel)) < 1e-6
        assert g.purity >= 1.0 / len(cnt) - 1e-9


def test_vmeasure_matches_sklearn_formulas(spark):
    import math as _math

    import numpy as np

    from spark_clustering_spark.io import table
    from spark_clustering_spark.operators.clustering import (
        K_DEFAULT,
        q_ml_vmeasure,
    )

    got = q_ml_vmeasure(spark, SF_SMALL).collect()[0]
    rows = sorted(
        (r.vec_id, r.label, np.array(list(r.embedding), dtype=np.float64))
        for r in table(spark, SF_SMALL, "embeddings").collect()
    )
    ids = np.array([i for i, _, _ in rows])
    labels = np.array([l for _, l, _ in rows])
    mat = np.stack([v for _, _, v in rows])
    C = mat[:K_DEFAULT]
    cids = ids[:K_DEFAULT]
    d = ((mat[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    a = cids[d.argmin(axis=1)]
    from collections import Counter

    n = len(ids)
    cont = Counter(zip(a, labels))
    ai = Counter(a)
    bj = Counter(labels)
    h_l_given_c = -sum(
        (v / n) * _math.log(v / ai[ci]) for (ci, _), v in cont.items()
    )
    h_c_given_l = -sum(
        (v / n) * _math.log(v / bj[lj]) for (_, lj), v in cont.items()
    )
    h_l = -sum((v / n) * _math.log(v / n) for v in bj.values())
    h_c = -sum((v / n) * _math.log(v / n) for v in ai.values())
    h = 1 - h_l_given_c / h_l
    c = 1 - h_c_given_l / h_c
    v = 2 * h * c / (h + c)
    assert abs(got.homogeneity - h) < 1e-4
    assert abs(got.completeness - c) < 1e-4
    assert abs(got.v_measure - v) < 1e-4
    assert 0.0 <= got.v_measure <= 1.0
    # harmonic mean lies between its arguments
    lo, hi = sorted((got.homogeneity, got.completeness))
    assert lo - 1e-9 <= got.v_measure <= hi + 1e-9


def test_ship_lag_matches_python(spark):
    import numpy as np

    from spark_clustering_spark.io import table
    from spark_clustering_spark.operators.olap import q_olap_ship_lag

    got = {r.priority: r for r in q_olap_ship_lag(spark, SF_SMALL).collect()}
    orders = {
        r.o_orderkey: (r.o_orderpriority, r.o_orderdate)
        for r in table(spark, SF_SMALL, "orders").collect()
    }
    lags: dict[str, list[int]] = defaultdict(list)
    for r in table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_shipdate"
    ).collect():
        pri, od = orders[r.l_orderkey]
        lags[pri].append((r.l_shipdate - od).days)
    assert set(got) == set(lags)
    for pri, xs in lags.items():
        a = np.array(xs)
        g = got[pri]
        assert g.n_lines == len(xs)
        assert g.min_days == int(a.min())
        assert g.max_days == int(a.max())
        assert abs(g.p50_days - np.percentile(a, 50)) < 1e-2
        assert abs(g.p95_days - np.percentile(a, 95)) < 1e-2
        assert g.min_days <= g.p50_days <= g.p95_days <= g.max_days


def test_learning_curve_matches_numpy(spark):
    import numpy as np

    from spark_clustering_spark.functions.rng import py_lcg_uniform
    from spark_clustering_spark.io import table
    from spark_clustering_spark.operators.clustering import (
        LC_BUCKETS,
        LC_FRACS,
        LC_SEED,
        q_ml_learning_curve,
    )

    got = {
        r.train_buckets: r
        for r in q_ml_learning_curve(spark, SF_SMALL).collect()
    }
    assert set(got) == set(LC_FRACS)
    rows = table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    ).collect()
    data = [
        (
            int(
                py_lcg_uniform(
                    r.l_orderkey * 8 + r.l_linenumber, seed=LC_SEED
                )
                * LC_BUCKETS
            ),
            float(r.l_quantity),
            float(r.l_extendedprice),
        )
        for r in rows
    ]
    for t in LC_FRACS:
        tr = np.array([(x, y) for b, x, y in data if b < t])
        te = np.array([(x, y) for b, x, y in data if b >= t])
        bb, aa = np.polyfit(tr[:, 0], tr[:, 1], 1)
        mse = float(((te[:, 1] - (aa + bb * te[:, 0])) ** 2).mean())
        g = got[t]
        assert g.n_train == len(tr)
        assert g.n_test == len(te)
        assert abs(g.slope - bb) < 1e-3
        assert abs(g.intercept - aa) < 1e-1
        assert abs(g.test_mse - mse) < max(1.0, mse * 1e-6)
    # a larger training set can't make the HELD-OUT fit much worse:
    # the 6/8 model must beat the 1/8 model within 10% slack
    assert got[LC_FRACS[-1]].test_mse <= got[LC_FRACS[0]].test_mse * 1.1


def test_functional_deps_detect_and_pass(spark):
    from spark_clustering_spark.operators.aggregates import (
        q_dq_functional_deps,
    )

    got = {r.fd: r for r in q_dq_functional_deps(spark, SF_SMALL).collect()}
    assert len(got) == 3
    # true FDs hold by construction
    assert got["l_orderkey->o_custkey"].n_violations == 0
    assert got["l_partkey->p_brand"].n_violations == 0
    # the deliberately-false FD must be detected (users do >1 type)
    bad = got["user_id->event day count stability"]
    assert bad.n_violations > 0
    assert bad.n_violations <= bad.n_keys


def test_vocab_growth_matches_python(spark):
    import re

    from spark_clustering_spark.functions.rng import py_lcg_uniform
    from spark_clustering_spark.io import table
    from spark_clustering_spark.pipeline.textstats import (
        VOCAB_BUCKETS,
        VOCAB_FRACS,
        VOCAB_SEED,
        q_text_vocab_growth,
    )

    got = {
        r.subset_buckets: r
        for r in q_text_vocab_growth(spark, SF_SMALL).collect()
    }
    docs = table(spark, SF_SMALL, "documents").select("doc_id", "text").collect()
    min_bucket: dict[str, int] = {}
    tokens_per_bucket = [0] * VOCAB_BUCKETS
    for r in docs:
        b = int(py_lcg_uniform(r.doc_id, seed=VOCAB_SEED) * VOCAB_BUCKETS)
        ws = re.findall(r"[a-z]+", r.text.lower())
        tokens_per_bucket[b] += len(ws)
        for w in ws:
            if w not in min_bucket or b < min_bucket[w]:
                min_bucket[w] = b
    assert set(got) == set(VOCAB_FRACS)
    prev_vocab = 0
    for t in sorted(VOCAB_FRACS):
        vocab = sum(1 for mb in min_bucket.values() if mb < t)
        toks = sum(tokens_per_bucket[:t])
        g = got[t]
        assert (g.n_tokens, g.vocab_size) == (toks, vocab)
        assert abs(g.type_token_ratio - vocab / toks) < 1e-6
        assert vocab >= prev_vocab  # vocabulary only grows
        prev_vocab = vocab
    # Heaps: TTR must FALL as the corpus grows (sublinear vocab)
    assert (
        got[VOCAB_FRACS[-1]].type_token_ratio
        < got[VOCAB_FRACS[0]].type_token_ratio
    )


def test_cross_op_active_days_conservation(spark):
    """Two independent operators must agree on the same underlying
    quantity: Σ active_days over users (q_ts_user_streaks) equals
    Σ dau over days (q_ts_active_users) — both count distinct
    (user, day) pairs."""
    from spark_clustering_spark.operators.timeseries import (
        q_ts_active_users,
        q_ts_user_streaks,
    )

    by_user = sum(
        r.active_days for r in q_ts_user_streaks(spark, SF_SMALL).collect()
    )
    by_day = sum(r.dau for r in q_ts_active_users(spark, SF_SMALL).collect())
    assert by_user == by_day > 0


def test_seasonality_strength_matches_numpy(spark):
    import numpy as np

    from spark_clustering_spark.io import table
    from spark_clustering_spark.operators.timeseries import (
        DAY_US,
        q_ts_seasonality_strength,
    )

    got = q_ts_seasonality_strength(spark, SF_SMALL).collect()[0]
    ev = table(spark, SF_SMALL, "events").selectExpr(
        f"unix_micros(ts) div {DAY_US} AS day_id", "value"
    ).collect()
    daily: dict[int, float] = defaultdict(float)
    for r in ev:
        daily[r.day_id] += float(r.value)
    a = np.array(list(daily.values()))
    dows = np.array([(d + 4) % 7 for d in daily])
    sst = ((a - a.mean()) ** 2).sum()
    ssb = sum(
        len(a[dows == w]) * (a[dows == w].mean() - a.mean()) ** 2
        for w in np.unique(dows)
    )
    assert got.n_days == len(a)
    assert abs(got.total_var - sst / len(a)) < max(1.0, sst / len(a) * 1e-5)
    assert abs(got.dow_r2 - ssb / sst) < 1e-4
    assert 0.0 <= got.dow_r2 <= 1.0
