"""Record the event-log fixture the fold tests read.

    python3 perfbench/tests/record_sample_log.py

Runs a traced local session over the repository's sf0.001 ``documents``
table (copied to ``data/sf0.001``): one memo-free query, one query that
builds memos, and one service request (Python workers). Writes ``data/sample_eventlog.jsonl`` — only
the job-start and stage-completed events the fold reads, trimmed to the
fields it uses — and ``data/sample_ledger.json`` with the memo build
intervals on the event log's epoch-ms clock.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

KEEP = ("SparkListenerJobStart", "SparkListenerStageCompleted")


def _trim(ev: dict) -> dict:
    if ev["Event"] == "SparkListenerJobStart":
        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
        return {"Event": ev["Event"], "Job ID": ev["Job ID"],
                "Submission Time": ev["Submission Time"], "Stage IDs": ev["Stage IDs"],
                "Properties": {"spark.jobGroup.id": group} if group else {}}
    info = ev["Stage Info"]
    return {"Event": ev["Event"], "Stage Info": {
        "Stage ID": info["Stage ID"], "Number of Tasks": info["Number of Tasks"],
        "Accumulables": [{"ID": a["ID"], "Name": a["Name"], "Value": a["Value"]}
                         for a in info.get("Accumulables", [])]}}


def main() -> None:
    import numpy as np

    from perfbench import eventlog, inputs

    work = tempfile.mkdtemp(prefix="perfbench-sample-")
    logdir = os.path.join(work, "eventlog")
    os.makedirs(logdir)
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    os.environ["SPARK_GRAFT_EXTRA_CONFS"] = (
        f"spark.eventLog.enabled=true;spark.eventLog.compress=false;"
        f"spark.eventLog.dir={logdir}")
    corpus = os.path.join(HERE, "data", "sf0.001")
    docs = inputs.documents(os.path.join(corpus, "documents.parquet"))

    import pandas as pd

    from data_pipeline_playground_spark import caching, registry
    from data_pipeline_playground_spark.plans.service_pipeline import run_service_pipeline
    from data_pipeline_playground_spark.session import get_spark

    offset = time.time() - time.perf_counter()
    spark = get_spark("perfbench-sample")
    sc = spark.sparkContext
    queries = registry.all_queries()
    for name in ("dedup_exact", "dedup_fuzzy"):
        sc.setJobGroup(f"op:{name}", name)
        queries[name](spark, corpus).toPandas()
    sc.setJobGroup("op:request", "request")
    req = inputs.service_request(docs, np.random.default_rng(7), 30)
    run_service_pipeline(
        spark.createDataFrame(pd.DataFrame(req["sections"]),
                              "page_title string, line string, toclevel int"),
        spark.createDataFrame(pd.DataFrame(req["articles"]),
                              "_id bigint, title string, text string, section_line string"),
    ).collect()
    ledger = [((e["t0"] + offset) * 1e3, (e["t1"] + offset) * 1e3, e["name"])
              for e in caching.drain_ledger() if e["kind"] == "build"]
    spark.stop()

    data = os.path.join(HERE, "data")
    os.makedirs(data, exist_ok=True)
    with open(os.path.join(data, "sample_eventlog.jsonl"), "w") as fh:
        for ev in eventlog.read_events(logdir):
            if ev["Event"] in KEEP:
                fh.write(json.dumps(_trim(ev)) + "\n")
    with open(os.path.join(data, "sample_ledger.json"), "w") as fh:
        json.dump(ledger, fh)
    shutil.rmtree(work)


if __name__ == "__main__":
    main()
