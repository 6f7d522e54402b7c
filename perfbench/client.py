"""One benchmark run inside a fresh driver process (started by run.py).

Sets up the session, runs one cold pass, unmeasured warm-up passes and
then measured passes of the workload's keys as a closed loop
(``fn(spark, sf_dir)`` then a ``noop`` write, key after key), measures
the contention canary around every pass, checks every key's output
once (untimed), and writes a result JSON for run.py. With ``--trace 1``
it also tags each phase with a job group, times Catalyst planning,
samples the cache after every pass and attributes Spark's event log to
the spans (see eventlog.py).

Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

# Passes after the cold one that are run but not measured. A young
# driver JVM keeps getting faster for dozens of passes; on a 4-core host
# the first warm passes run 10-40% slower than the fifth, by an amount
# that depends on how busy the host is, so measuring them made runs of
# the same code disagree. Later passes still drift down a little.
WARMUP_PASSES = 4
# Measured passes run for --seconds, and at least this many of them.
MIN_MEASURED_PASSES = 3
# Tail percentile rule: the highest percentile with at least this many
# samples beyond it.
TAIL_BEYOND = 10


class Spans:
    """In-memory span recorder: name, start, end, parent, attributes."""

    def __init__(self):
        self.items: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.items)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.items.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()


def _canary(spark, sf_dir: str) -> float:
    """bench.py's scan-only canary: a fixed sum over orders."""
    t0 = time.time()
    spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).agg(
        {"o_totalprice": "sum"}
    ).write.format("noop").mode("overwrite").save()
    return time.time() - t0


def _warm_kernel(batches):
    # numpy + BLAS import and thread-pool init inside the Arrow worker
    import numpy as np

    _ = np.ones((8, 8)) @ np.ones((8, 8))
    yield from batches


def _warm_workers(spark) -> None:
    n = max(int(spark.sparkContext.defaultParallelism), 8)
    spark.range(n * 4, numPartitions=n).mapInPandas(
        _warm_kernel, "id bigint"
    ).write.format("noop").mode("overwrite").save()


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _jvm_live_heap_mb(spark) -> float:
    """Heap still reachable after a full collection: what the session
    retains (pins, caches), without the collector's sizing noise."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return heap.getUsed() / (1024 * 1024)


def _cache_gauges(spark) -> tuple[int, float]:
    jsc = spark.sparkContext._jsc
    pinned = int(jsc.getPersistentRDDs().size())
    used = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo())
    return pinned, used / (1024 * 1024)


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has
    TAIL_BEYOND samples above it."""
    s = sorted(samples)
    i = max(0, len(s) - TAIL_BEYOND - 1)
    return s[i], 100.0 * (i + 1) / len(s)


def run(args) -> dict:
    from spark_clustering_spark import registry
    from spark_clustering_spark.session import get_spark
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    registry.load_all_queries()
    sf = args.data
    work = Path(args.work)
    spans = Spans()
    conf = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={os.environ['TMPDIR']}"
        ),
    }
    if args.trace:
        evdir = work / "eventlog"
        evdir.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    with spans.span("run", workload=args.workload, seed=args.seed):
        with spans.span("session.get_spark"):
            spark = get_spark("perfbench", extra_conf=conf)
        sc = spark.sparkContext
        with spans.span("warmup.query"):
            canaries = [_canary(spark, sf)]
        with spans.span("warmup.workers"):
            _warm_workers(spark)
        setup_s = time.time() - args.t0

        rng = random.Random(args.seed)
        samples: list[dict] = []
        passes: list[dict] = []
        errors: dict[str, str] = {}
        measure_start = live_mb = None
        p = 0
        while True:
            # the cold pass keeps the listed order, so every run pays the
            # same first-use costs on the same keys; warm passes are permuted
            order = list(wl.keys) if p == 0 else rng.sample(wl.keys, len(wl.keys))
            # the last pass's DataFrames are what the output check collects
            frames: dict = {}
            with spans.span("pass", index=p) as prec:
                for key in order:
                    with spans.span("key", key=key, index=p):
                        s = _run_key(spark, sc, registry.QUERIES[key], key, p, sf,
                                     args, spans, errors, frames)
                    samples.append(s)
            pass_rec = {"index": p, "wall_s": prec["end"] - prec["start"],
                        "measured": p > WARMUP_PASSES}
            if args.trace:
                pass_rec["cache.pinned_rdds"], pass_rec["cache.storage_mb"] = _cache_gauges(spark)
            with spans.span("canary", after_pass=p):
                canaries.append(_canary(spark, sf))
            passes.append(pass_rec)
            if p == WARMUP_PASSES:
                # read after a fixed number of passes, since every pass
                # may add pins; the full collection also starts the
                # measured passes on a clean heap
                live_mb = _jvm_live_heap_mb(spark)
                measure_start = time.time()
            elif (p >= WARMUP_PASSES + MIN_MEASURED_PASSES
                  and time.time() - measure_start >= args.seconds):
                break
            p += 1
        rss_mb = _jvm_peak_rss_mb(spark)
        env = {
            "spark": spark.version,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "cores": sc.defaultParallelism,
            "driver_memory": sc.getConf().get("spark.driver.memory"),
        }

        with spans.span("check"):
            bad = _check(spark, registry, frames, wl.keys, sf, args)
        spark.stop()

    warm = [s for s in samples if s["pass"] > WARMUP_PASSES and s["ok"]]
    warm_lat = [s["construct_s"] + s["execute_s"] for s in warm]
    failed = sum(1 for s in samples if not s["ok"] or s["key"] in bad)
    tail_s, tail_pct = tail(warm_lat)
    measured = [p for p in passes if p["measured"]]
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "env": env,
        "keys": list(wl.keys),
        "attempted": len(samples),
        "failed": failed,
        "errors": errors,
        "check_failures": bad,
        "canary_s": canaries,
        "metrics": {
            "setup_s": (setup_s, "s", 1),
            "cold_pass_s": (passes[0]["wall_s"], "s", 1),
            "pass_s": (statistics.median(p["wall_s"] for p in measured), "s",
                       len(measured)),
            "query_p50_s": (statistics.median(warm_lat), "s", len(warm_lat)),
            "query_tail_s": (tail_s, "s", len(warm_lat)),
            "error_frac": (failed / len(samples), "frac", len(samples)),
            "jvm_peak_rss_mb": (rss_mb, "MB", 1),
            "jvm_live_heap_mb": (live_mb, "MB", 1),
        },
        "tail_percentile": tail_pct,
        "per_key_s": {
            k: [round(s["construct_s"] + s["execute_s"], 4) for s in samples if s["key"] == k]
            for k in wl.keys
        },
        "samples": samples,
        "passes": passes,
    }
    if args.trace:
        from layers import trace_report

        result["trace"] = trace_report(spans.items, passes, work / "eventlog", env["cores"])
    return result


def _run_key(spark, sc, fn, key, p, sf, args, spans, errors, frames) -> dict:
    group = f"{args.workload}/{key}#{p}"
    rec = {"key": key, "pass": p, "ok": True, "construct_s": 0.0, "execute_s": 0.0}
    try:
        if args.trace:
            sc.setJobGroup(f"{group}/construct", key)
        with spans.span("construct", group=f"{group}/construct") as c:
            df = fn(spark, sf)
        rec["construct_s"] = c["end"] - c["start"]
        if args.trace:
            with spans.span("plan"):
                df._jdf.queryExecution().executedPlan()
            sc.setJobGroup(f"{group}/execute", key)
        with spans.span("execute", group=f"{group}/execute") as e:
            df.write.format("noop").mode("overwrite").save()
        rec["execute_s"] = e["end"] - e["start"]
        frames[key] = df
    except Exception as ex:  # a failing key is counted, not fatal
        rec["ok"] = False
        errors.setdefault(key, f"{type(ex).__name__}: {str(ex)[:300]}")
        traceback.print_exc(file=sys.stderr)
    finally:
        if args.trace:
            sc._jsc.clearJobGroup()
    return rec


def _check(spark, registry, frames, keys, sf, args) -> dict[str, list[str]]:
    """Check each key's output once: the DataFrame its last timed pass
    wrote (re-executing only the final plan, not the construction), or a
    fresh construction when that pass raised."""
    from check import OracleCache, check_key
    from spark_clustering_spark.io import table

    oracle = OracleCache(sf, args.data_id, Path(args.oracle_cache), int(os.environ["SPARK_GRAFT_CPUS"]))
    n_corpus = table(spark, sf, "embeddings").count()
    bad: dict[str, list[str]] = {}
    try:
        for key in sorted(keys):
            try:
                sdf = frames[key] if key in frames else registry.QUERIES[key](spark, sf)
                problems = check_key(sdf, key, registry.ORACLE.get(key), oracle, n_corpus)
            except Exception as ex:  # a crash in the check fails the key
                traceback.print_exc(file=sys.stderr)
                problems = [f"check raised {type(ex).__name__}: {str(ex)[:300]}"]
            if problems:
                bad[key] = problems
    finally:
        oracle.close()
    return bad


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--data-id", required=True)
    ap.add_argument("--oracle-cache", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    result = run(args)
    Path(args.out).write_text(json.dumps(result))


if __name__ == "__main__":
    main()
