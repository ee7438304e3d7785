"""Benchmark runner: every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

One protocol, one run:
1. warm-up: every query once at sf0.001 (JIT, codegen cache, parquet
   footers), unrecorded;
2. memo prebuild: every registered session memo (memo_prebuild.py) is
   built serially, lightest-first, before the timed loop;
3. one timed sweep over the sorted query names. The Spark cache is
   cleared before each query, so every timing pays its own cost, and a
   known-subsecond sentinel query is probed every _PROBE_EVERY queries;
4. output.

Headline: "value" is the sum of the "queries" map. That map holds every
real query's memo-exclusive wall seconds (plan + execute + count) plus
one line item per memo ledger entry: "memo_build:<name>" for builds and
"memo_remat:<name>" for re-materializations after the between-query
clearCache. caching.memo times both into a drainable ledger; after each
query the bench drains it, subtracts the union of the entries' [t0, t1]
intervals (clipped to the query window) from the query's wall time, and
books each entry's exclusive seconds to its line item. When concurrent
memo work makes the exclusive sum exceed that union, the excess is
reported as "memo_overlap_s".

Contention: a probe slower than _PROBE_HOT marks its surrounding window
hot. Queries timed inside a hot window (plus any sentinel query over its
idle-box bound) are listed as "still_hot" and the run carries a
"contention_warning". Nothing is re-run: a flagged run is not comparable.

The full record (every line item, probes, errors) is written as one JSON
line to $SPARK_GRAFT_BENCH_OUT (default <repo>/BENCH_full_latest.json).
Stdout carries exactly one compact JSON line of at most 1500 bytes, so a
tail-bounded capture always holds one complete object:
{"metric": "total_query_wall_seconds", "value": <sec>, "unit": "sec",
 "sf": <sf>, "n_queries": N, "queries": {slowest items}, "queries_elided": M,
 "full_record": <path>, "median_s": .., "p90_s": ..,
 "probes": {"n":..,"max":..,"hot":..}, "still_hot_n": .., "errors_n": ..,
 "memo_build_n": .., "memo_build_s": .., "memo_remat_s": ..,
 ["contention_warning": "..."]}
n_queries, median_s and p90_s describe real queries only.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

_PROBE_Q = "section_rank_topk"
# every 10: a throttle transient of a few minutes can start and decay
# entirely inside a wider window
_PROBE_EVERY = 10
# idle-box probe floor is 0.5-0.7 s; mild throttling reads 1.0-1.3 s.
# The probe is warmed once at the bench SF before the loop so
# position-0 plan-compile noise can't false-trip.
_PROBE_HOT = 1.5
_SENTINELS = {"section_rank_topk": 2.0, "project_clean": 2.0}


def _hot_window_names(probes: dict[str, float], probe_names: dict[str, str],
                      order: list[str], spacing: int) -> set[str]:
    """Names inside hot probe windows, mapped LEXICOGRAPHICALLY.

    A hot probe at position P (probes fire BEFORE the query at index P)
    contaminates [P - spacing, P + spacing): throttling developed
    somewhere in the preceding window and persists into the following
    one until a clean probe. Because the sweep runs in sorted order,
    the window maps onto any name list as the lexicographic interval
    between the adjacent probes' recorded names."""
    names: set[str] = set()
    for pos_s, v in probes.items():
        if v > _PROBE_HOT:
            p = int(pos_s)
            lo = probe_names.get(str(p - spacing), "")
            hi = probe_names.get(str(p + spacing), "\uffff")
            names.update(q for q in order if lo <= q < hi)
    return names


def _union_seconds(entries: list[dict], lo: float, hi: float) -> float:
    """Total length of the union of the entries' [t0, t1] intervals,
    clipped to [lo, hi] — the wall-clock a query actually spent inside
    memo builds/re-mats, immune to concurrent-thread double-counting.
    Entries without timestamps contribute their "sec" additively, still
    capped by the window."""
    ivs = sorted(
        (max(e["t0"], lo), min(e["t1"], hi))
        for e in entries
        if "t0" in e and "t1" in e and min(e["t1"], hi) > max(e["t0"], lo)
    )
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in ivs:
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    legacy = sum(e["sec"] for e in entries if "t0" not in e)
    return min(total + legacy, hi - lo)


def _book_ledger(timings: dict[str, float], entries: list[dict]) -> None:
    """Add each ledger entry's exclusive seconds to its
    "memo_<kind>:<name>" line item (kind is "build" or "remat")."""
    for e in entries:
        k = f"memo_{e['kind']}:{e['name']}"
        timings[k] = timings.get(k, 0.0) + e["sec"]


def _record(timings: dict[str, float], queries: dict,
            probes: dict[str, float], probe_names: dict[str, str]) -> dict:
    """The full record's timing fields: headline value, line items,
    family rollup, probes and the contention verdict."""
    timings = {k: round(v, 3) for k, v in sorted(timings.items())}
    fam: dict[str, float] = {}
    for name, t in timings.items():
        f = (name.split(":", 1)[0] if name.startswith("memo_")
             else queries[name].__module__.rsplit(".", 1)[-1])
        fam[f] = fam.get(f, 0.0) + t
    real = [k for k in timings if not k.startswith("memo_")]
    hot = _hot_window_names(probes, probe_names, real, _PROBE_EVERY)
    tripped = {q: timings[q] for q, lim in _SENTINELS.items()
               if timings.get(q, 0.0) > lim}
    hot.update(tripped)
    out = {
        "value": round(sum(timings.values()), 4),
        "queries": timings,
        "sentinel_probes": probes,
        "probe_names": probe_names,
        "families": {k: round(v, 1) for k, v in sorted(fam.items())},
        "still_hot": sorted(hot),
    }
    if hot:
        parts = [f"{q}={v}s" for q, v in sorted(tripped.items())]
        parts += [f"{len(hot)} queries timed in a hot probe window"]
        out["contention_warning"] = (
            "sentinel queries exceeded idle-box bounds "
            f"({', '.join(parts)}); "
            "host was likely CPU-throttled — still_hot timings unreliable"
        )
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from data_pipeline_playground_spark.queries.ml import (
        BISECTING_MAX_ITER,
        KMEANS_MAX_ITER,
        LDA_MAX_ITER,
        PIC_MAX_ITER,
    )
    from data_pipeline_playground_spark import caching, memo_prebuild
    from data_pipeline_playground_spark.registry import all_queries
    from data_pipeline_playground_spark.session import get_spark

    spark = get_spark("dpp-spark-bench")
    queries = all_queries()
    names = sorted(queries)

    # 1. warm-up at the smallest SF
    for name in names:
        try:
            queries[name](spark, "/root/testdata/sf0.001").count()
        except Exception:
            pass

    # 2. serial memo prebuild, booked to memo_build:<name> line items
    timings: dict[str, float] = {}
    caching.drain_ledger()  # discard warm-up entries (sf0.001 keys)
    prebuild_failed: list[str] = []
    prebuilt = memo_prebuild.prebuild_all(spark, sf_dir, prebuild_failed)
    _book_ledger(timings, caching.drain_ledger())

    # warm the probe query once at the bench SF (unrecorded): its first
    # execution pays plan compile + codegen, which would read as a hot
    # probe@0 on a clean box
    if _PROBE_Q in queries:
        try:
            queries[_PROBE_Q](spark, sf_dir).count()
        except Exception:
            pass

    # 3. one timed sweep with interleaved contention probes
    errors: dict[str, str] = {}
    probes: dict[str, float] = {}
    probe_names: dict[str, str] = {}
    memo_overlap = 0.0

    def probe(position: int) -> None:
        if _PROBE_Q not in queries:
            return
        # the query ABOUT TO RUN at this position; the end-of-run marker
        # sorts after every real name so a hot final probe's window
        # reaches the end of the list
        probe_names[str(position)] = (
            names[position] if position < len(names) else "\uffff"
        )
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        try:
            queries[_PROBE_Q](spark, sf_dir).count()
            probes[str(position)] = round(time.perf_counter() - t0, 3)
        except Exception:
            pass

    for q_idx, name in enumerate(names):
        if q_idx % _PROBE_EVERY == 0:
            probe(q_idx)
        # memos this query retrieves re-materialize here; the ledger
        # moves that cost onto memo_remat:<name> line items
        spark.catalog.clearCache()
        caching.drain_ledger()  # discard stray entries (probes)
        start = time.perf_counter()
        try:
            queries[name](spark, sf_dir).count()
            end = time.perf_counter()
            entries = caching.drain_ledger()
            memo_sec = _union_seconds(entries, start, end)
            excl_sum = sum(e["sec"] for e in entries)
            if excl_sum - memo_sec > 1e-3:
                memo_overlap += excl_sum - memo_sec
            _book_ledger(timings, entries)
            timings[name] = max(0.001, end - start - memo_sec)
        except Exception as exc:  # one bad query must not sink the bench
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
            print(f"BENCH ERROR {name}: {errors[name]}", file=sys.stderr)
    probe(len(names))  # final checkpoint

    # 4. output
    out = {
        "metric": "total_query_wall_seconds",
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # fidelity knobs that change compute
        "ml_iterations": {
            "kmeans_max_iter": KMEANS_MAX_ITER,
            "lda_max_iter": LDA_MAX_ITER,
            "bisecting_max_iter": BISECTING_MAX_ITER,
            "pic_max_iter": PIC_MAX_ITER,
        },
        **_record(timings, queries, probes, probe_names),
        "memo_prebuilt_n": len(prebuilt),
    }
    if errors:
        out["errors"] = errors
    if memo_overlap > 0.05:
        out["memo_overlap_s"] = round(memo_overlap, 3)
    if prebuild_failed:
        # a failed prebuild reverts that memo to first-touch accounting
        out["memo_prebuild_failed"] = prebuild_failed
    full_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_full_latest.json"),
    )
    with open(full_path, "w") as fh:
        fh.write(json.dumps(out, separators=(",", ":")) + "\n")

    print(json.dumps(_compact_summary(out, full_path),
                     separators=(",", ":")))


def _compact_summary(out: dict, full_path: str,
                     budget: int = 1500) -> dict:
    """One self-contained stdout object, <= ``budget`` bytes serialized.

    Keeps the driver-contract fields (metric/value/unit/sf/queries) but
    elides the line-item map to the slowest K — trimming K, then the
    still-hot sample and family rollup, then the warning text until the
    line fits. Memo line items may appear among the slowest but are
    summarized by their own totals, not in n_queries/median/p90."""
    timings: dict[str, float] = out["queries"]
    vals = sorted(v for k, v in timings.items() if not k.startswith("memo_"))
    n = len(vals)
    slowest = sorted(timings, key=timings.get, reverse=True)
    probes = out.get("sentinel_probes", {})
    summary: dict = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "sf": out["sf"],
        "n_queries": n,
        "queries": {},
        "queries_elided": 0,
        "full_record": full_path,
        "median_s": round(vals[n // 2], 3) if n else 0.0,
        "p90_s": round(vals[(9 * n) // 10], 3) if n else 0.0,
        "probes": {
            "n": len(probes),
            "max": max(probes.values(), default=0.0),
            "hot": sum(1 for v in probes.values() if v > _PROBE_HOT),
        },
        "still_hot_n": len(out.get("still_hot", [])),
        "errors_n": len(out.get("errors", {})),
    }
    builds = [v for k, v in timings.items() if k.startswith("memo_build:")]
    remats = [v for k, v in timings.items() if k.startswith("memo_remat:")]
    if builds:
        summary["memo_build_n"] = len(builds)
        summary["memo_build_s"] = round(sum(builds), 1)
    if remats:
        summary["memo_remat_s"] = round(sum(remats), 1)
    if out.get("still_hot"):
        summary["still_hot_sample"] = out["still_hot"][:5]
    if out.get("contention_warning"):
        summary["contention_warning"] = out["contention_warning"]
    if out.get("families"):
        summary["families"] = out["families"]

    for top_k in (10, 5, 3, 0):
        summary["queries"] = {q: timings[q] for q in slowest[:top_k]}
        summary["queries_elided"] = max(0, len(timings) - top_k)
        if len(json.dumps(summary, separators=(",", ":"))) <= budget:
            return summary
        summary.pop("still_hot_sample", None)
        summary.pop("families", None)
        if "contention_warning" in summary:
            summary["contention_warning"] = (
                summary["contention_warning"][:117] + "...")
    # last resort: env-supplied strings (full_record is a path embedded
    # verbatim; "sf" falls back to the WHOLE $SPARK_GRAFT_SF_DIR when
    # the path carries no "sf" marker) can push even the top-0 form
    # past the budget — shrink them to basenames, then hard-truncate.
    # Numeric sf values are never touched.
    def _strkeys():
        return [k for k in ("full_record", "sf")
                if isinstance(summary.get(k), str) and summary[k]]

    for key in _strkeys():
        if len(json.dumps(summary, separators=(",", ":"))) <= budget:
            break
        summary[key] = os.path.basename(summary[key])
    while (len(json.dumps(summary, separators=(",", ":"))) > budget
           and _strkeys()):
        longest = max(_strkeys(), key=lambda k: len(summary[k]))
        summary[longest] = summary[longest][:len(summary[longest]) // 2]
        if not summary[longest]:
            del summary[longest]
    return summary


if __name__ == "__main__":
    main()
