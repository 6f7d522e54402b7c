"""Benchmark entry point: one workload, one seed, one fresh driver process.

    python3 perfbench/run.py --workload relational --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. The run

1. builds an sf0.1 data tree with ``tools/gen_testdata.gen`` under the
   seed (cached under ``.perfbench/data``; not part of any metric);
2. derives cores, driver memory and local dirs from the host and starts
   ``client.py`` in a fresh process with ``PYTHONPATH`` set to the repo,
   so Arrow workers import the engine from any working directory;
3. prints the end-to-end metrics (or, with ``--trace 1``, the per-layer
   metrics) with units and sample counts, then one JSON line last.

Everything the run writes stays under ``.perfbench/`` in the working
directory; the trace artifact goes to ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

from workloads import SCALE_FACTOR, WORKLOADS

HERE = Path(__file__).resolve().parent

# a run that has not finished by then is stopped (runs take about a minute)
CHILD_TIMEOUT_S = 170


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _host_env(root: Path, work: Path) -> tuple[dict[str, str], int]:
    """Engine settings sized to this host rather than the engine's
    literal defaults (a 16g driver does not fit a 15 GB host), and the
    host memory in MB."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo", encoding="ascii") as fh:
        mem_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    driver_mb = min(4096, max(1024, mem_kb // 1024 // 6))
    for d in ("local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "TMPDIR": str(work / "tmp"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(root), os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
    })
    return env, mem_kb // 1024


def _source_digest(root: Path) -> str:
    """Content hash of the engine and tools, standing in for a commit id
    (the benchmark may run from a tree that is not a git checkout)."""
    h = hashlib.sha1()
    for path in sorted((*root.glob("spark_clustering_spark/**/*.py"), *root.glob("tools/*.py"))):
        h.update(str(path.relative_to(root)).encode())
        h.update(path.read_bytes())
    return h.hexdigest()[:12]


def _data_dir(root: Path, seed: int) -> tuple[Path, str]:
    """The sf0.1 tree for ``seed``, generated once per generator version."""
    gen_src = root / "tools" / "gen_testdata.py"
    gen_hash = hashlib.sha1(gen_src.read_bytes()).hexdigest()[:10]
    data_id = f"sf{SCALE_FACTOR:g}-seed{seed}-{gen_hash}"
    out = root / ".perfbench" / "data" / data_id
    if not out.exists():
        from tools import gen_testdata

        tmp = out.with_name(out.name + f".tmp{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        gen_testdata.SEED = seed
        with contextlib.redirect_stdout(sys.stderr):
            gen_testdata.gen(SCALE_FACTOR, tmp)
        tmp.rename(out)
    return out, data_id


def _group_alive(pgid: int) -> bool:
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _stop_group(pgid: int) -> None:
    """Stop every process the client left behind (JVM, Python workers)
    and wait until they are gone."""
    for sig, wait_s in ((signal.SIGTERM, 10), (signal.SIGKILL, 10)):
        if not _group_alive(pgid):
            return
        with contextlib.suppress(ProcessLookupError):
            os.killpg(pgid, sig)
        deadline = time.time() + wait_s
        while _group_alive(pgid) and time.time() < deadline:
            time.sleep(0.1)


def _print_report(res: dict, per_layer: list[dict] | None) -> None:
    m = res["metrics"]
    print(f"# workload={res['workload']} seed={res['seed']} "
          f"source={res['source']} env={json.dumps(res['env'])}")
    for name, (value, unit, n) in m.items():
        extra = f" (p{res['tail_percentile']:.0f})" if name == "query_tail_s" else ""
        print(f"{name:>18} = {value:.4f} {unit}{extra}  n={n}")
    print(f"# canary_s: {[round(c, 3) for c in res['canary_s']]}")
    for key, lat in res["per_key_s"].items():
        print(f"#   {key}: by pass {lat}")
    if res["errors"] or res["check_failures"]:
        print(f"# errors: {json.dumps(res['errors'])}")
        print(f"# check failures: {json.dumps(res['check_failures'])}")
    if per_layer:
        t = res["trace"]
        for spec in per_layer:
            print(f"{spec['name']:>24} = {t['metrics'][spec['name']]:.4f} {spec['unit']}")
        for scope, top in t["top3_self_time"].items():
            print(f"# top3 self time ({scope}): "
                  + ", ".join(f"{e['layer']} {e['self_s']:.2f}s" for e in top))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        _fail("--seconds must be at least 1")
    if args.seed < 0:
        _fail("--seed must be non-negative")

    root = Path.cwd()
    try:
        bench = json.loads((root / "BENCHMARK.json").read_text())
    except (OSError, ValueError) as ex:
        _fail(f"run from the repository root: cannot read BENCHMARK.json ({ex})")
    for need in ("spark_clustering_spark/registry.py", "tools/gen_testdata.py",
                 "tools/parity.py", "tools/fit_invariants.py"):
        if not (root / need).is_file():
            _fail(f"run from the repository root: {need} not found under {root}")
    sys.path.insert(0, str(root))

    data, data_id = _data_dir(root, args.seed)
    work = root / ".perfbench" / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    out = work / "result.json"
    env, host_mem_mb = _host_env(root, work)
    cmd = [
        sys.executable, str(HERE / "client.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", str(data), "--data-id", data_id,
        "--oracle-cache", str(root / ".perfbench" / "oracle"),
        "--work", str(work), "--out", str(out),
    ]
    # a terminated run still stops the client's process group (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t0 = time.time()
    child = subprocess.Popen([*cmd, "--t0", repr(t0)], cwd=root, env=env,
                             stdout=sys.stderr, start_new_session=True)
    try:
        code = child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _stop_group(child.pid)
        child.wait()
    if code != 0 or not out.is_file():
        shutil.rmtree(work, ignore_errors=True)
        _fail(f"client {'timed out' if code is None else f'exited with {code}'}")

    res = json.loads(out.read_text())
    res["source"] = _source_digest(root)
    res["env"]["host_mem_mb"] = host_mem_mb
    results = root / ".perfbench" / ("traces" if args.trace else "results")
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{args.workload}-seed{args.seed}.json").write_text(json.dumps(res, indent=1))
    shutil.rmtree(work, ignore_errors=True)
    _print_report(res, bench["per_layer"] if args.trace else None)

    if args.trace:
        values = res["trace"]["metrics"]
        specs = bench["per_layer"]
    else:
        values = {k: v[0] for k, v in res["metrics"].items()}
        specs = bench["end_to_end"]
    metrics = {s["name"]: {"value": values[s["name"]], "unit": s["unit"]} for s in specs}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
