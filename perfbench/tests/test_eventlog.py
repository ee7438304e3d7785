"""The event-log fold and the memo-build interval attribution."""

from __future__ import annotations

import json
import os

from perfbench import eventlog

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _job(job_id, t, stages, group=None):
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": t,
            "Stage IDs": stages,
            "Properties": {"spark.jobGroup.id": group} if group else {}}


def _stage(sid, tasks, accs):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": sid, "Number of Tasks": tasks,
        "Accumulables": [{"ID": i, "Name": n, "Value": v} for i, n, v in accs]}}


def test_innermost_build_interval_wins():
    intervals = [(100, 200, "outer"), (120, 150, "inner")]
    assert eventlog.memo_group(130, intervals) == "memo:inner"
    assert eventlog.memo_group(160, intervals) == "memo:outer"
    assert eventlog.memo_group(250, intervals) is None


def test_jobs_inside_a_build_interval_go_to_the_memo():
    events = [
        _job(0, 1000, [0], "op:q"),
        _stage(0, 4, [(1, "internal.metrics.executorRunTime", 2000)]),
        _job(1, 1500, [1], "op:q"),  # submitted while memo m was building
        _stage(1, 2, [(2, "internal.metrics.executorRunTime", 500)]),
    ]
    folded = eventlog.fold(events, [(1400, 1600, "m")])
    assert folded["op:q"]["exec"]["run_s"] == 2.0
    assert folded["memo:m"]["exec"]["run_s"] == 0.5
    assert folded["memo:m"]["exec"]["jobs"] == 1 and folded["memo:m"]["exec"]["tasks"] == 2


def test_stage_belongs_to_first_job_and_sql_accumulators_count_once():
    events = [
        _job(0, 10, [0, 1], "op:a"),
        _stage(0, 3, [(7, "time to start Python workers", "1200"),
                      (8, "data sent to Python workers", "100"),
                      (9, "internal.metrics.executorCpuTime", 2_000_000_000),
                      (10, "internal.metrics.peakExecutionMemory", 64)]),
        _stage(1, 1, [(7, "time to start Python workers", "1500"),
                      (10, "internal.metrics.peakExecutionMemory", 32)]),
        _job(1, 20, [1, 2], "op:b"),  # lists stage 1 again, as skipped
        _stage(2, 1, [(11, "internal.metrics.jvmGCTime", 250)]),
    ]
    folded = eventlog.fold(events)
    a, b = folded["op:a"], folded["op:b"]
    assert a["py"]["boot_s"] == 1.5  # cumulative accumulator: last value
    assert a["py"]["sent_b"] == 100
    assert a["exec"]["cpu_s"] == 2.0 and a["exec"]["peak_mem_b"] == 64
    assert a["exec"]["stages"] == 2 and a["exec"]["tasks"] == 4
    assert b["exec"]["stages"] == 1 and b["exec"]["gc_s"] == 0.25
    assert b["py"]["boot_s"] == 0.0


def test_totals_skip_setup_groups():
    folded = eventlog.fold([
        _job(0, 1, [0], "setup:warmup"), _stage(0, 1, [(1, "internal.metrics.executorRunTime", 9000)]),
        _job(1, 2, [1], "op:x"), _stage(1, 1, [(2, "internal.metrics.executorRunTime", 1000)]),
    ])
    tot = eventlog.totals(folded)
    assert tot["exec"]["run_s"] == 1.0 and tot["exec"]["jobs"] == 1


def test_fold_on_recorded_sf0001_log():
    with open(os.path.join(DATA, "sample_ledger.json")) as fh:
        intervals = [tuple(x) for x in json.load(fh)]
    events = list(eventlog.read_events(os.path.join(DATA, "sample_eventlog.jsonl")))
    folded = eventlog.fold(events, intervals)
    n_jobs = sum(1 for e in events if e["Event"] == "SparkListenerJobStart")
    n_stages = sum(1 for e in events if e["Event"] == "SparkListenerStageCompleted")
    assert sum(g["exec"]["jobs"] for g in folded.values()) == n_jobs
    assert sum(g["exec"]["stages"] for g in folded.values()) == n_stages
    # the fuzzy-dedup build ran as memo jobs, not under the op's group
    assert "memo:dedup_fuzzy_survivors" in folded
    assert folded["memo:dedup_fuzzy_survivors"]["exec"]["run_s"] > 0
    # only the service request crosses the Python boundary
    assert folded["op:request"]["py"]["sent_b"] > 0
    assert folded["op:request"]["py"]["run_s"] > 0
    assert folded["op:dedup_exact"]["py"] == dict.fromkeys(eventlog.PYWORKER_FIELDS, 0.0)
    assert folded["op:dedup_exact"]["exec"]["tasks"] > 0
