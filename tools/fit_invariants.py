"""Invariant gate for the fit family (VERDICT r7 task 7).

The 9 rows-only ``fit_*`` surfaces carry numpy replays, golden traces
and MLlib cross-checks at fixture scale — this tool closes the
remaining gap by asserting the BEHAVIORAL invariants on a full
corpus (default ``io.DEFAULT_SF_DIR``, i.e. $SPARK_GRAFT_SF_DIR or
sf0.1):

- monotone objective: best_objectvalue non-increasing over the run
  (kmeans/gka/pso families), loglik non-decreasing (EM guarantee, gmm);
- R20 metrics schema per family;
- mass conservation: per-cluster point counts sum to the corpus size
  (mllib kmeans/gmm hard assignments, streaming kmeans decay-1.0
  weights), mixture weights sum to 1;
- label range: every cluster_id in [0, k);
- seed determinism: each key re-run in-session is identical on all
  non-timing columns.

Usage: python tools/fit_invariants.py [--sf DIR] [--out FILE]
Prints one JSON line per key + a summary; exit 1 on any violation.
"""

from __future__ import annotations

import argparse
import json
import math
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))

from spark_clustering_spark.io import DEFAULT_SF_DIR  # noqa: E402

K = 8
TIMING_COLS = {"iter_ms", "gen_ms"}


def _rows(df):
    cols = [c for c in df.columns if c not in TIMING_COLS]
    out = []
    for r in df.select(*cols).collect():
        row = []
        for c in cols:
            v = r[c]
            row.append(tuple(v) if isinstance(v, list) else v)
        out.append(tuple(row))
    return cols, sorted(out, key=lambda t: tuple(str(x) for x in t))


def _monotone_best(rows, cols, order_cols, value_col, direction):
    oi = [cols.index(c) for c in order_cols]
    vi = cols.index(value_col)
    seq = [r[vi] for r in sorted(rows, key=lambda r: tuple(r[i] for i in oi))]
    if direction == "non_increasing":
        return all(a >= b - 1e-9 for a, b in zip(seq, seq[1:])), seq
    return all(a <= b + 1e-6 for a, b in zip(seq, seq[1:])), seq


def check_key(name, cols, rows, n_corpus):
    """Returns a list of (invariant, ok, detail) triples."""
    checks = []
    checks.append(("nonempty", len(rows) > 0, len(rows)))
    if name in ("fit_kmeans",):
        checks.append(("schema", cols == [
            "run", "iter", "objective", "objective_sq",
            "best_objectvalue", "n_empty",
        ], cols))
        ok, seq = _monotone_best(
            rows, cols, ["run", "iter"], "best_objectvalue", "non_increasing"
        )
        checks.append(("monotone_best", ok, seq))
        ne = cols.index("n_empty")
        checks.append(("n_empty_nonneg", all(r[ne] >= 0 for r in rows), None))
    elif name in ("fit_gka", "fit_gka_ref_config"):
        checks.append(("schema", cols == ["gen", "best_objectvalue"], cols))
        ok, seq = _monotone_best(
            rows, cols, ["gen"], "best_objectvalue", "non_increasing"
        )
        checks.append(("monotone_best", ok, seq))
    elif name in ("fit_pso", "fit_pso_ref_config"):
        checks.append(("schema", cols == ["iter", "best_objectvalue"], cols))
        ok, seq = _monotone_best(
            rows, cols, ["iter"], "best_objectvalue", "non_increasing"
        )
        checks.append(("monotone_best", ok, seq))
    elif name == "fit_gmm":
        checks.append(
            ("schema", cols == ["iteration", "loglik", "avg_loglik"], cols)
        )
        ok, seq = _monotone_best(
            rows, cols, ["iteration"], "loglik", "non_decreasing"
        )
        checks.append(("em_monotone_loglik", ok, seq))
        checks.append(
            ("finite", all(math.isfinite(r[cols.index("loglik")]) for r in rows), None)
        )
    elif name == "fit_kmeans_mllib":
        checks.append(("schema", cols == ["cluster_id", "n_points", "cost"], cols))
        ci, ni, co = (cols.index(c) for c in ("cluster_id", "n_points", "cost"))
        checks.append(
            ("label_range", all(0 <= r[ci] < K for r in rows), None)
        )
        total = sum(r[ni] for r in rows)
        checks.append(("mass_conserved", total == n_corpus, total))
        checks.append(("cost_nonneg", all(r[co] >= 0 for r in rows), None))
    elif name == "fit_gmm_mllib":
        checks.append(
            ("schema", cols == ["cluster_id", "n_points", "resp_mass", "weight"], cols)
        )
        ci = cols.index("cluster_id")
        checks.append(("label_range", all(0 <= r[ci] < K for r in rows), None))
        checks.append(("k_components", len(rows) == K, len(rows)))
        total = sum(r[cols.index("n_points")] for r in rows)
        checks.append(("mass_conserved", total == n_corpus, total))
        wsum = sum(r[cols.index("weight")] for r in rows)
        checks.append(("weights_sum_1", abs(wsum - 1.0) < 1e-9, wsum))
        checks.append(
            ("resp_nonneg",
             all(r[cols.index("resp_mass")] >= -1e-9 for r in rows), None)
        )
    elif name == "fit_kmeans_stream":
        checks.append(
            ("schema", cols == ["cluster_id", "n_weight", "n_batches", "center"], cols)
        )
        ci = cols.index("cluster_id")
        checks.append(("label_range", all(0 <= r[ci] < K for r in rows), None))
        # decay=1.0: every point's unit weight survives, so the cluster
        # weights must sum to EXACTLY the corpus size
        wsum = sum(r[cols.index("n_weight")] for r in rows)
        checks.append(("mass_conserved", abs(wsum - n_corpus) < 1e-6, wsum))
        checks.append(
            ("centers_finite",
             all(all(math.isfinite(x) for x in r[cols.index("center")])
                 for r in rows), None)
        )
    return checks


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=DEFAULT_SF_DIR)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from spark_clustering_spark.io import table
    from spark_clustering_spark.session import get_spark

    spark = get_spark("fit_invariants")
    qs = entrymod.queries()
    fits = sorted(n for n in qs if n.startswith("fit_"))
    n_corpus = table(spark, args.sf, "embeddings").count()

    results = []
    for name in fits:
        t0 = time.time()
        cols, rows = _rows(qs[name](spark, args.sf))
        wall = round(time.time() - t0, 2)
        checks = check_key(name, cols, rows, n_corpus)
        # seed determinism: identical re-run on non-timing columns
        _, rows2 = _rows(qs[name](spark, args.sf))
        checks.append(("seed_deterministic", rows == rows2, None))
        ok = all(c[1] for c in checks)
        results.append(
            {
                "key": name,
                "ok": ok,
                "wall_sec": wall,
                "n_rows": len(rows),
                "checks": [
                    {"invariant": c[0], "ok": bool(c[1]),
                     **({"detail": c[2]} if not c[1] else {})}
                    for c in checks
                ],
            }
        )
        print(
            f"{name}: {'OK' if ok else 'FAIL'} "
            f"({len(rows)} rows, {wall}s, "
            f"{sum(1 for c in checks if c[1])}/{len(checks)} invariants)"
        )

    summary = {
        "sf_dir": args.sf,
        "n_corpus": n_corpus,
        "n_keys": len(results),
        "n_ok": sum(1 for r in results if r["ok"]),
        "results": results,
    }
    if args.out:
        Path(args.out).write_text(json.dumps(summary, indent=1))
        print(f"wrote {args.out}")
    print(json.dumps({k: summary[k] for k in ("n_keys", "n_ok")}))
    sys.exit(0 if summary["n_ok"] == summary["n_keys"] else 1)


if __name__ == "__main__":
    main()
