"""Stage shuffle/spill-bytes profile for a registered query at two
corpus scales (VERDICT r12 #4).

The round-12 probe adjudicated `dedup_jaccard_pairs`' 1.15 wall-clock
exponent as "wall-only": every plan data volume measured exactly ×10.0
at the decade, so the excess wall is the one-box shuffle/spill
footprint, not the plan. That defense rested on ROW counts; this
script makes it checkable in BYTES — it runs a query at two scales and
prints the per-run totals of shuffle read/write bytes, memory/disk
spill bytes, and input bytes, aggregated from Spark's own stage
metrics (REST status API of a UI-enabled session; stages attributed to
a run by stage-id watermark between snapshots).

    python scripts/shuffle_profile.py --query dedup_jaccard_pairs \
        --lo /tmp/scale10 --hi /tmp/scale100 --scale-ratio 10

Output: one human table + one JSON line per run, suitable for
committing next to the SCALE.md exponent row. Absolute seconds on a
throttled host are noise; the byte RATIOS are the signal (a linear
plan reads/writes ×R bytes at R× scale regardless of contention).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

UI_PORT = int(os.environ.get("SPARK_GRAFT_PROFILE_UI_PORT", "4057"))

BYTE_FIELDS = (
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "inputBytes",
    "outputBytes",
)


# REST base derived from the session's ACTUAL UI binding (ADVICE r13
# #4): on a port conflict Spark retries UI_PORT+1 (spark.port.maxRetries),
# so querying the configured constant would hit nothing — or another
# app's UI. Set by main() from spark.sparkContext.uiWebUrl.
_UI_BASE = f"http://localhost:{UI_PORT}"


def _rest(path: str):
    with urllib.request.urlopen(
        f"{_UI_BASE}/api/v1/{path}", timeout=30
    ) as fh:
        return json.load(fh)


def _stages(app_id: str) -> list[dict]:
    return _rest(f"applications/{app_id}/stages?status=complete")


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--query", required=True)
    p.add_argument("--lo", default="/tmp/scale10")
    p.add_argument("--hi", default="/tmp/scale100")
    p.add_argument("--scale-ratio", type=float, default=10.0)
    p.add_argument(
        "--warm", default="/root/testdata/sf0.001",
        help="small corpus for the unrecorded plan-compile warm run",
    )
    p.add_argument(
        "--reps", type=int, default=2,
        help="measurements per scale: rep0 is COLD (includes session-"
        "memo builds for that sf_dir), later reps are WARM (memos "
        "cached — the query's own marginal plan, matching the bench's "
        "memo-exclusive accounting)",
    )
    args = p.parse_args()

    from data_pipeline_playground_spark.registry import all_queries
    from data_pipeline_playground_spark.session import get_spark

    # get_spark disables the UI; extra confs are applied last, so these
    # enable it on a fixed port for the status REST API
    os.environ["SPARK_GRAFT_EXTRA_CONFS"] = ";".join(filter(None, (
        os.environ.get("SPARK_GRAFT_EXTRA_CONFS", ""),
        f"spark.ui.enabled=true;spark.ui.port={UI_PORT}",
    )))
    spark = get_spark("dpp-shuffle-profile")
    global _UI_BASE
    ui = spark.sparkContext.uiWebUrl
    if ui:
        _UI_BASE = ui
    app_id = spark.sparkContext.applicationId
    queries = all_queries()
    fn = queries[args.query]

    fn(spark, args.warm).count()  # compile/codegen warm, unrecorded

    runs: dict[int, list[dict]] = {r: [] for r in range(args.reps)}
    for sf_dir in (args.lo, args.hi):
        spark.catalog.clearCache()
        for rep in range(args.reps):
            seen = {(s["stageId"], s["attemptId"]) for s in _stages(app_id)}
            t0 = time.perf_counter()
            n_rows = fn(spark, sf_dir).count()
            wall = time.perf_counter() - t0
            time.sleep(2.0)  # let the status store absorb stage posts
            new = [
                s for s in _stages(app_id)
                if (s["stageId"], s["attemptId"]) not in seen
            ]
            rec = {
                "query": args.query,
                "sf_dir": sf_dir,
                "rep": rep,
                "mode": "cold+memo" if rep == 0 else "warm",
                "rows": n_rows,
                "wall_sec": round(wall, 2),
                "n_stages": len(new),
            }
            for f in BYTE_FIELDS:
                rec[f] = sum(s.get(f, 0) for s in new)
            runs[rep].append(rec)
            print(json.dumps(rec), flush=True)

    for rep in range(args.reps):
        lo, hi = runs[rep]
        print(f"\n{args.query} [{lo['mode']}]: {args.lo} -> {args.hi} "
              f"(scale x{args.scale_ratio:g})")
        print(f"{'metric':22s} {'lo':>15s} {'hi':>15s} {'ratio':>8s}")
        for f in ("wall_sec",) + BYTE_FIELDS:
            a, b = lo[f], hi[f]
            ratio = (b / a) if a else float("nan")
            print(f"{f:22s} {a:15,.0f} {b:15,.0f} {ratio:8.2f}")


if __name__ == "__main__":
    main()
