"""Fold a Spark event log (uncompressed, non-rolling JSON lines) into
per-job-group totals.

Every op the benchmark times runs under its own job group, so each
group's jobs, tasks, executor CPU, shuffle, spill and Python-worker
accumulables belong to exactly one op.
"""

from __future__ import annotations

import json
from collections import defaultdict

# SQL accumulables the Python exec nodes (ArrowEvalPython, MapInPandas,
# FlatMapGroupsInPandas) publish per task: sizes in bytes, times in ms
# (Spark 4.1's PythonSQLMetrics makes them with createTimingMetric, not
# the nanosecond createNanoTimingMetric)
_PY_INIT = ("time to start Python workers", "time to initialize Python workers")
_PY_RUN = "time to run Python workers"
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")

_WANTED = tuple(
    f'{{"Event":"{e}"'
    for e in (
        "SparkListenerJobStart",
        "SparkListenerJobEnd",
        "SparkListenerStageSubmitted",
        "SparkListenerTaskEnd",
    )
)


def empty() -> dict:
    return {
        "jobs": 0,
        "tasks": 0,
        "exec_cpu_s": 0.0,
        "shuffle_bytes": 0,
        "spill_bytes": 0,
        "py_init_s": 0.0,
        "py_run_s": 0.0,
        "py_bytes": 0,
        "job_spans_ms": [],
    }


def fold(path: str) -> dict[str, dict]:
    """{job group: totals}; ``job_spans_ms`` lists each job's
    (submission, completion) epoch-ms pair."""
    out: dict[str, dict] = defaultdict(empty)
    job_start: dict[int, tuple[str | None, int]] = {}
    stage_group: dict[tuple[int, int], str | None] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            if not line.startswith(_WANTED):
                continue
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                job_start[e["Job ID"]] = (group, e["Submission Time"])
                if group is not None:
                    out[group]["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                group, t0 = job_start.get(e["Job ID"], (None, 0))
                if group is not None:
                    out[group]["job_spans_ms"].append((t0, e["Completion Time"]))
            elif kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                stage_group[key] = (e.get("Properties") or {}).get("spark.jobGroup.id")
            else:
                group = stage_group.get((e["Stage ID"], e["Stage Attempt ID"]))
                if group is None:
                    continue
                g = out[group]
                g["tasks"] += 1
                m = e.get("Task Metrics") or {}
                g["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                g["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                    name, upd = acc.get("Name"), acc.get("Update")
                    if upd is None:
                        continue
                    if name == _PY_RUN:
                        g["py_run_s"] += int(upd) / 1e3
                    elif name in _PY_INIT:
                        g["py_init_s"] += int(upd) / 1e3
                    elif name in _PY_BYTES:
                        g["py_bytes"] += int(upd)
    return dict(out)


def covered_s(spans_ms: list[tuple[int, int]], t0: float, t1: float) -> float:
    """Seconds of [t0, t1] (epoch s) covered by the union of job spans."""
    lo_ms, hi_ms = t0 * 1e3, t1 * 1e3
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(spans_ms):
        a, b = max(a, lo_ms), min(b, hi_ms)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total / 1e3
