"""Fold a Spark event log into per-job-group executor and Python-worker
metrics.

A group is the ``spark.jobGroup.id`` the benchmark set before each op
(``op:<name>``). A job submitted while a memo build was running (an
interval from ``caching.drain_ledger``) is booked to ``memo:<name>``
instead, so build cost is not charged to whichever op touched the memo
first. Only uncompressed logs are read (``spark.eventLog.compress=false``).
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

# internal.metrics.<name> -> (metric, scale to seconds/bytes)
_TASK_METRICS = {
    "internal.metrics.executorRunTime": ("run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.diskBytesSpilled": ("spill_b", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_b", 1),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_b", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_b", 1),
}
_PEAK = "internal.metrics.peakExecutionMemory"

# Python-boundary SQL metrics (PythonSQLMetrics); timings are in ms.
_PYTHON_METRICS = {
    "time to start Python workers": ("boot_s", 1e-3),
    "time to initialize Python workers": ("init_s", 1e-3),
    "time to run Python workers": ("run_s", 1e-3),
    "data sent to Python workers": ("sent_b", 1),
    "data returned from Python workers": ("recv_b", 1),
}

SPARK_EXEC_FIELDS = ("run_s", "cpu_s", "gc_s", "spill_b", "shuffle_read_b",
                     "shuffle_write_b", "peak_mem_b", "jobs", "stages",
                     "tasks")
PYWORKER_FIELDS = ("boot_s", "init_s", "run_s", "sent_b", "recv_b")


def read_events(path: str):
    """Yield events from one log file or every file under a log dir
    (Spark 4 writes rolling logs as ``eventlog_v2_<app>/events_<n>_<app>``)."""
    if os.path.isdir(path):
        for entry in sorted(os.listdir(path)):
            if not entry.startswith("."):
                yield from read_events(os.path.join(path, entry))
        return
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if line.startswith("{"):
                yield json.loads(line)


def memo_group(submit_ms: float, intervals: list[tuple[float, float, str]]):
    """The innermost memo build interval (epoch ms) holding ``submit_ms``,
    as a group name, or None. Nested builds record nested intervals; the
    shortest one that contains the submission is the build that ran it."""
    best = None
    for t0, t1, name in intervals:
        if t0 <= submit_ms <= t1 and (best is None or t1 - t0 < best[1] - best[0]):
            best = (t0, t1, name)
    return None if best is None else f"memo:{best[2]}"


def _empty() -> dict:
    return {"exec": dict.fromkeys(SPARK_EXEC_FIELDS, 0.0),
            "py": dict.fromkeys(PYWORKER_FIELDS, 0.0)}


def fold(events, intervals: list[tuple[float, float, str]] = ()) -> dict:
    """Return ``{group: {"exec": {...}, "py": {...}}}``.

    ``intervals`` are ``(t0_ms, t1_ms, memo_name)`` build intervals on the
    epoch clock the event log uses. A stage belongs to the first job that
    lists it (later jobs list it again only as skipped). SQL metric
    accumulators are cumulative, so each accumulator id counts once, with
    its last reported value.
    """
    groups: dict[str, dict] = defaultdict(_empty)
    stage_group: dict[int, str] = {}
    py_acc: dict[int, tuple[str, str, float]] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = (memo_group(ev.get("Submission Time", 0), intervals)
                     or props.get("spark.jobGroup.id") or "none")
            groups[group]["exec"]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            group = stage_group.get(info["Stage ID"], "none")
            ex = groups[group]["exec"]
            ex["stages"] += 1
            ex["tasks"] += info.get("Number of Tasks", 0)
            for acc in info.get("Accumulables", []):
                name = acc.get("Name")
                if name in _TASK_METRICS:
                    field, scale = _TASK_METRICS[name]
                    ex[field] += float(acc["Value"]) * scale
                elif name == _PEAK:
                    ex["peak_mem_b"] = max(ex["peak_mem_b"], float(acc["Value"]))
                elif name in _PYTHON_METRICS:
                    field, scale = _PYTHON_METRICS[name]
                    py_acc[acc["ID"]] = (group, field, float(acc["Value"]) * scale)
    for group, field, value in py_acc.values():
        groups[group]["py"][field] += value
    return dict(groups)


def totals(folded: dict) -> dict:
    """Sum every group except the set-up ones (``setup:...``); peak memory
    is the largest group peak."""
    out = _empty()
    for group, rec in folded.items():
        if group.startswith("setup:"):
            continue
        for k, v in rec["exec"].items():
            out["exec"][k] = max(out["exec"][k], v) if k == "peak_mem_b" else out["exec"][k] + v
        for k, v in rec["py"].items():
            out["py"][k] += v
    return out
