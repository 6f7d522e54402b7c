"""Attribute a Spark event log to the benchmark's phase spans.

The traced run writes an uncompressed, non-rolling event log (Spark 4
compresses with zstd by default, which nothing installed here reads).
After the session stops, ``attribute`` walks the log once and charges
every job, task, Python-UDF SQL metric and streaming progress event to
the phase span that caused it:

- a job carries ``spark.jobGroup.id`` = ``<workload>/<key>#<pass>/<phase>``
  when it was submitted from the client thread; jobs submitted from
  engine-owned threads (which do not inherit local properties) fall back
  to the phase whose wall interval contains their submission time.
- tasks reach a job through their stage id.
- Python-worker metrics are SQL accumulators of the Arrow UDF nodes,
  found by walking every plan the SQL listener logged (including the
  adaptive re-plans), then summed from the task-end accumulable updates.
- a streaming progress event belongs to the phase that contains the
  trigger's start timestamp.
"""

from __future__ import annotations

import bisect
import json
from collections import defaultdict
from datetime import datetime
from pathlib import Path

# Display names of Spark 4.1's PythonSQLMetrics on Arrow UDF nodes.
PYTHON_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.total_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.recv_mb",
    "number of output rows": "python.rows",
}
_PY_NODE_HINTS = ("Python", "Pandas", "Arrow")

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"

MB = 1024 * 1024

# counters a phase accumulates; all start at 0 so every phase reports them
COUNTERS = (
    "jobs", "tasks.count", "tasks.run_s", "tasks.cpu_s", "tasks.gc_s",
    "tasks.deser_s", "tasks.sched_delay_s", "shuffle.write_mb",
    "shuffle.read_mb", "shuffle.spill_mb", "streaming.batches",
    "streaming.batch_s", "streaming.add_batch_s", "streaming.input_rows",
    *PYTHON_METRICS.values(),
)


def _python_accumulators(plan: dict, out: dict[int, tuple[str, str]]) -> None:
    """Collect {accumulatorId: (metric key, metricType)} of Python nodes."""
    name = plan.get("nodeName", "")
    if any(h in name for h in _PY_NODE_HINTS):
        seen = set()
        for m in plan.get("metrics", []):
            key = PYTHON_METRICS.get(m.get("name"))
            # stateful Pandas nodes carry "number of output rows" twice
            # (UDF and state operator); count the node's rows once
            if key and key not in seen:
                seen.add(key)
                out[m["accumulatorId"]] = (key, m.get("metricType", "sum"))
    for child in plan.get("children", []):
        _python_accumulators(child, out)


def _scaled(key: str, metric_type: str, value: float) -> float:
    if key.endswith("_s"):
        return value / 1e9 if metric_type == "nsTiming" else value / 1e3
    if key.endswith("_mb"):
        return value / MB
    return value


def _iso_ms(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1e3


class _Phases:
    """Lookup of phase spans by job group and by time."""

    def __init__(self, phases: list[dict]):
        self.by_group = {p["group"]: p for p in phases if p.get("group")}
        self.ordered = sorted(phases, key=lambda p: p["start"])
        self.starts = [p["start"] * 1e3 for p in self.ordered]

    def at(self, t_ms: float) -> dict | None:
        i = bisect.bisect_right(self.starts, t_ms) - 1
        if i >= 0 and t_ms <= self.ordered[i]["end"] * 1e3:
            return self.ordered[i]
        return None

    def for_job(self, group: str | None, t_ms: float) -> dict | None:
        return self.by_group.get(group) or self.at(t_ms)


def attribute(log_path: Path, phases: list[dict]) -> dict:
    """Fill ``phase["counters"]`` and ``phase["job_intervals"]`` for each
    phase span in ``phases`` (dicts with start/end in epoch seconds and
    an optional ``group``). Returns totals of what matched no phase."""
    lookup = _Phases(phases)
    for p in phases:
        p["counters"] = dict.fromkeys(COUNTERS, 0.0)
        p["job_intervals"] = {}
    unmatched = defaultdict(float)
    stage_phase: dict[int, dict | None] = {}
    job_phase: dict[int, dict | None] = {}
    py_acc: dict[int, tuple[str, str]] = {}
    with open(log_path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                ph = lookup.for_job(props.get("spark.jobGroup.id"), ev["Submission Time"])
                job_phase[ev["Job ID"]] = ph
                for sid in ev.get("Stage IDs", []):
                    stage_phase[sid] = ph
                if ph is None:
                    unmatched["jobs"] += 1
                else:
                    ph["counters"]["jobs"] += 1
                    ph["job_intervals"][ev["Job ID"]] = [ev["Submission Time"], None]
            elif kind == "SparkListenerJobEnd":
                ph = job_phase.get(ev["Job ID"])
                if ph is not None:
                    ph["job_intervals"][ev["Job ID"]][1] = ev["Completion Time"]
            elif kind in (_SQL_START, _SQL_AQE):
                _python_accumulators(ev.get("sparkPlanInfo") or {}, py_acc)
            elif kind == "SparkListenerTaskEnd":
                ph = stage_phase.get(ev["Stage ID"])
                c = ph["counters"] if ph is not None else unmatched
                info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                run_ms = tm.get("Executor Run Time", 0)
                deser_ms = tm.get("Executor Deserialize Time", 0)
                ser_ms = tm.get("Result Serialization Time", 0)
                wall_ms = info["Finish Time"] - info["Launch Time"]
                c["tasks.count"] += 1
                c["tasks.run_s"] += run_ms / 1e3
                c["tasks.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                c["tasks.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                c["tasks.deser_s"] += deser_ms / 1e3
                c["tasks.sched_delay_s"] += max(0, wall_ms - run_ms - deser_ms - ser_ms) / 1e3
                sw = tm.get("Shuffle Write Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                c["shuffle.write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
                c["shuffle.read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / MB
                c["shuffle.spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
                for acc in info.get("Accumulables", []):
                    hit = py_acc.get(acc.get("ID"))
                    if hit and acc.get("Update") is not None:
                        key, mtype = hit
                        c[key] += _scaled(key, mtype, float(acc["Update"]))
            elif kind == _PROGRESS:
                prog = ev["progress"]
                ph = lookup.at(_iso_ms(prog["timestamp"]))
                c = ph["counters"] if ph is not None else unmatched
                dur = prog.get("durationMs") or {}
                c["streaming.batches"] += 1
                c["streaming.batch_s"] += dur.get("triggerExecution", 0) / 1e3
                c["streaming.add_batch_s"] += dur.get("addBatch", 0) / 1e3
                c["streaming.input_rows"] += sum(
                    src.get("numInputRows", 0) for src in prog.get("sources", []))
    return dict(unmatched)


def covered_s(phase: dict) -> float:
    """Seconds of the phase's wall covered by the union of its jobs."""
    start, end = phase["start"], phase["end"]
    spans = sorted(
        (max(a / 1e3, start), min((b if b is not None else end * 1e3) / 1e3, end))
        for a, b in phase["job_intervals"].values()
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
