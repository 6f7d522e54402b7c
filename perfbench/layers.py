"""Per-layer metrics of a traced run, from its spans and the event log.

Span tree: run -> setup spans | pass -> key -> construct / plan / execute,
with a canary span between passes and an untimed check span at the end.
Spark jobs are children of the phase that submitted them (eventlog.py),
so a phase's self time is its wall minus the union of its jobs' walls:
for ``construct`` that is driver Python, numpy and py4j; for ``execute``
it is the write command's planning and driver work.
"""

from __future__ import annotations

import statistics
from pathlib import Path

import eventlog

SETUP = ("session.get_spark", "warmup.query", "warmup.workers")
PHASES = ("construct", "plan", "execute")
# event-log counters summed per pass (job counts are kept per phase)
SUMMED = tuple(f for f in eventlog.COUNTERS if f != "jobs")
# Layers ranked by self time.
SELF_LAYERS = (
    "construct.driver", "construct.jobs", "catalyst.plan", "execute.driver",
    "execute.jobs", "canary", "client",
)


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def trace_report(spans: list[dict], passes: list[dict], evdir: Path,
                 cores: int) -> dict:
    logs = [p for p in evdir.iterdir() if p.is_file()]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {evdir}, found {len(logs)}")
    leaves = [s for s in spans if s["name"] in (*SETUP, *PHASES, "canary", "check")]
    unmatched = eventlog.attribute(logs[0], leaves)

    per_pass = [
        {"pass": p["index"], "traced.pass_s": p["wall_s"],
         "cache.pinned_rdds": p["cache.pinned_rdds"],
         "cache.storage_mb": p["cache.storage_mb"],
         **dict.fromkeys(
             ("construct.wall_s", "construct.jobs", "construct.driver_s",
              "execute.wall_s", "execute.jobs", "catalyst.plan_s",
              "phase_wall_s", *SUMMED), 0.0),
         "self_s": dict.fromkeys(SELF_LAYERS, 0.0)}
        for p in passes
    ]
    per_key: dict[str, list[dict]] = {}
    key_rec: dict[int, dict] = {}
    for s in spans:
        if s["name"] == "key":
            rec = {"pass": s["index"], "wall_s": _dur(s)}
            per_key.setdefault(s["key"], []).append(rec)
            key_rec[s["id"]] = rec
    for s in spans:
        if s["name"] not in PHASES:
            continue
        name, c = s["name"], s["counters"]
        rec = key_rec[s["parent"]]  # phase -> key span
        pp = per_pass[rec["pass"]]
        wall = _dur(s)
        jobs_s = eventlog.covered_s(s)
        rec[f"{name}_s"] = wall
        rec[f"{name}_jobs"] = int(c["jobs"])
        rec[f"{name}_self_s"] = wall - jobs_s
        for k in SUMMED:
            rec[k] = rec.get(k, 0.0) + c[k]
            pp[k] += c[k]
        pp["phase_wall_s"] += wall
        if name == "plan":
            pp["catalyst.plan_s"] += wall
            pp["self_s"]["catalyst.plan"] += wall
            continue
        pp[f"{name}.wall_s"] += wall
        pp[f"{name}.jobs"] += c["jobs"]
        pp["self_s"][f"{name}.driver"] += wall - jobs_s
        pp["self_s"][f"{name}.jobs"] += jobs_s
        if name == "construct":
            pp["construct.driver_s"] += wall - jobs_s
    for s in spans:
        if s["name"] == "canary" and s.get("after_pass") is not None:
            per_pass[s["after_pass"]]["self_s"]["canary"] += _dur(s)
        if s["name"] in ("pass", "key"):
            children = sum(_dur(c) for c in spans if c["parent"] == s["id"])
            per_pass[s["index"]]["self_s"]["client"] += _dur(s) - children
    for pp in per_pass:
        pp["tasks.core_util"] = pp["tasks.run_s"] / (pp.pop("phase_wall_s") * cores)

    warm = [pp for pp, p in zip(per_pass, passes) if p["measured"]]
    metrics = {s["name"] + "_s": _dur(s) for s in spans if s["name"] in SETUP}
    for k in per_pass[0]:
        if k not in ("pass", "self_s"):
            metrics[k] = statistics.median(p[k] for p in warm)
    # Workers are forked once (by the warm-up) and reused, so their boot
    # is a per-run cost: report it over the whole run, not per pass.
    metrics["python.boot_s"] = sum(s["counters"]["python.boot_s"] for s in leaves)

    setup_self = {s["name"]: _dur(s) for s in spans if s["name"] in SETUP}
    run_self = {**setup_self, **{k: sum(p["self_s"][k] for p in per_pass) for k in SELF_LAYERS}}
    warm_self = {k: statistics.median(p["self_s"][k] for p in warm) for k in SELF_LAYERS}
    return {
        "metrics": metrics,
        "per_pass": per_pass,
        "per_key": per_key,
        "self_time_s": {"run": run_self, "cold_pass": per_pass[0]["self_s"],
                        "warm_pass_median": warm_self},
        "top3_self_time": {"run": _top3(run_self), "warm_pass": _top3(warm_self)},
        "unattributed": unmatched,
        "spans": spans,
    }


def _top3(self_s: dict[str, float]) -> list[dict]:
    ranked = sorted(self_s.items(), key=lambda kv: -kv[1])[:3]
    return [{"layer": k, "self_s": v} for k, v in ranked]
