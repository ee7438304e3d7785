"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload corpus_batch --seed 1 --seconds 30 --trace 0

``--trace 0`` prints the end-to-end metrics (BENCHMARK.json
``end_to_end``); ``--trace 1`` prints the per-layer metrics
(``per_layer``) from a run that also records Spark's event log. The
session runs on local[<cores>] with the program's own Spark defaults;
only a traced session gets extra confs (event log on, uncompressed).

``setup_s`` is this process's start -> ready: imports, the session
(which launches the JVM), the workload's probe op and its warm-up.

Scratch files (the sink's output, Spark local dirs, temp files, event
logs) live in ``.perfbench_out/run-<pid>`` under the checkout and are
removed at exit;
``.perfbench_out/<workload>-seed<seed>-trace<t>.json`` keeps the full
record: metadata, every op, every span and the folded event log.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import eventlog  # noqa: E402
from perfbench.measure import (  # noqa: E402
    Tracer,
    comm,
    cpu_between,
    cpu_snapshot,
    descendants,
    duration,
    failed_frac,
    host_ram_gb,
    host_steal_s,
    hwm_mb,
    mem_available_mb,
    since_process_start,
    tail_percentile,
)
from perfbench.workloads import CORPUS_MEMOS, WORKLOADS, CheckFailed  # noqa: E402


class Bench:
    """One run: the session, the spans, and every op's outcome."""

    def __init__(self, workload: str, seed: int, workdir: str):
        self.tracer = Tracer(uuid.uuid4().hex[:12])
        self.workload = WORKLOADS[workload](workdir, seed)
        self.spark = None
        self.traced_session = False
        self.phase = "setup"
        self.ops: list[dict] = []
        self.pending: list[tuple[dict, object]] = []  # (op, result) to check
        self.eventlog_dir = os.path.join(workdir, "eventlog")
        self.base_confs = os.environ.get("SPARK_GRAFT_EXTRA_CONFS", "")

    # -- session -------------------------------------------------------------

    def start_session(self, traced: bool) -> None:
        confs = self.base_confs
        if traced:
            os.makedirs(self.eventlog_dir, exist_ok=True)
            confs = ";".join(c for c in (
                confs, "spark.eventLog.enabled=true", "spark.eventLog.compress=false",
                f"spark.eventLog.dir={self.eventlog_dir}") if c)
        os.environ["SPARK_GRAFT_EXTRA_CONFS"] = confs
        with self.tracer.span("session.start", traced=traced):
            from data_pipeline_playground_spark.session import get_spark
            self.spark = get_spark(f"perfbench-{self.workload.name}")
        self.traced_session = traced

    def stop_session(self) -> None:
        with self.tracer.span("session.stop"):
            self.spark.stop()
        self.spark = None

    def fresh_session(self) -> None:
        """A new session for one pass, traced in the traced phase."""
        self.start_session(self.phase == "traced")

    def setup(self, traced: bool) -> None:
        """Start the session (stopping the previous one first) and run the
        workload's light probe op."""
        if self.spark is not None:
            self.stop_session()
        with self.tracer.span("setup"):
            self.start_session(traced)
            self._group("setup:probe")
            with self.tracer.span("probe"):
                self.workload.probe(self)
        self._drain_ledger()

    def warmup(self) -> None:
        """The workload's warm-up, the last step of set-up."""
        with self.tracer.span("warmup"):
            self._group("setup:warmup")
            self.workload.warmup(self)
        self._drain_ledger()

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for every process this
        run started (the JVM and its Python workers) to end."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        procs = [p for p in descendants(os.getpid()) if p != os.getpid()]
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
        _wait_gone(procs)

    # -- ops -----------------------------------------------------------------

    def _group(self, group: str) -> None:
        if self.traced_session:
            self.spark.sparkContext.setJobGroup(group, group)

    def _drain_ledger(self) -> list[dict]:
        from data_pipeline_playground_spark import caching
        return caching.drain_ledger()

    def op(self, name: str, fn):
        """Run one op under an ``op`` span; failures are recorded, not
        raised. Returns the op's result, or None if it raised."""
        self._group(f"op:{name}")
        rec = {"name": name, "phase": self.phase, "pass": self.tracer.attrs.get("pass")}
        result = None
        with self.tracer.span("op", op=name) as span:
            try:
                result = fn()
                rec["ok"] = True
            except Exception as exc:  # an op failure counts in `failed`
                rec.update(ok=False, error=f"{type(exc).__name__}: {exc}")
                traceback.print_exc(file=sys.stderr)
        for e in self._drain_ledger():
            self.tracer.add(f"caching.{e['kind']}", e["t0"], e["t1"],
                            memo=e["name"], sec=e["sec"])
        rec["latency_s"] = duration(span)
        self.ops.append(rec)
        if rec["ok"]:
            self.pending.append((rec, result))
        return result

    def run_phase(self, phase: str, seconds: float) -> dict:
        """Closed loop: start passes until ``seconds`` have elapsed (at
        least one). ``wall_s`` sums the passes; ``cpu_s`` covers the
        phase."""
        traced = phase == "traced"
        if not self.workload.restarts_per_pass and self.traced_session != traced:
            self.setup(traced)
            self.warmup()
        self.phase = phase
        host0 = self._host_readings()
        cpu0, t0 = cpu_snapshot(os.getpid()), time.perf_counter()
        n, wall = 0, 0.0
        while n == 0 or time.perf_counter() - t0 < seconds:
            if self.workload.restarts_per_pass:
                # a fresh process never pays the stop (sometimes ~0.5 s)
                self.stop_session()
            self.tracer.attrs = {"phase": phase, "pass": n}
            with self.tracer.span("pass") as span:
                self.workload.run_pass(self, n)
            wall += duration(span)
            n += 1
        self.tracer.attrs = {}
        cpu = cpu_between(cpu0, cpu_snapshot(os.getpid()))
        host = {k: v - host0[k] for k, v in self._host_readings().items()}
        self.phase = "setup"
        return {"phase": phase, "passes": n, "wall_s": wall, "cpu_s": cpu,
                "mem_available_mb": mem_available_mb(), **host}

    def _host_readings(self) -> dict:
        """What else could move a phase's times: CPU stolen from the
        host, and the JVM's cumulative GC time."""
        beans = self.spark._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return {"steal_s": host_steal_s(),
                "jvm_gc_s": sum(b.getCollectionTime() for b in beans) / 1e3}

    def check_outputs(self) -> None:
        """Output checks, after the timed phase, on the results the timed
        actions returned. A failed check marks its op failed."""
        for rec, result in self.pending:
            try:
                self.workload.check(rec["name"], result)
            except (CheckFailed, AssertionError) as exc:
                rec.update(ok=False, error=f"check: {exc}")
        self.pending = []

    def peak_rss_mb(self) -> float:
        """VmHWM of the driver JVM plus this Python driver."""
        jvm = [p for p in descendants(os.getpid()) if comm(p) == "java"]
        return hwm_mb(os.getpid()) + sum(hwm_mb(p) for p in jvm)


def _wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    def alive(pid):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    for _ in range(2):  # wait; kill what is left; wait again
        deadline = time.monotonic() + timeout
        while any(alive(p) for p in pids) and time.monotonic() < deadline:
            time.sleep(0.1)
        left = [p for p in pids if alive(p)]
        if not left:
            return
        for p in left:
            try:
                os.kill(p, 9)
            except ProcessLookupError:
                pass


# -- metrics -------------------------------------------------------------------


def end_to_end(setup_s: float, phase: dict) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (phase["wall_s"] / phase["passes"], "s"),
        "cpu_s": (phase["cpu_s"] / phase["passes"], "s"),
    }


def per_layer(bench: Bench, phases: dict, folded: dict, cores: int, rss_mb: float) -> dict:
    """Span layers from the untraced phase, Spark layers from the traced
    one; sums are per pass."""
    spans = bench.tracer.spans
    untraced, traced = phases["untraced"], phases["traced"]

    def in_phase(s, ph):
        return s.get("phase") == ph["phase"]

    def total(name, ph, field=None):
        got = [s for s in spans if s["name"] == name and in_phase(s, ph)]
        return sum(s[field] if field else duration(s) for s in got) / ph["passes"]

    def count(name, ph):
        return sum(1 for s in spans if s["name"] == name and in_phase(s, ph)) / ph["passes"]

    by_id = {s["id"]: s for s in spans}

    def construct_self(layer):
        """Construct wall minus the memo-ledger seconds inside it."""
        memo_s = sum(s["sec"] for s in spans
                     if s["name"].startswith("caching.") and in_phase(s, untraced)
                     and s["parent"] is not None
                     and by_id[s["parent"]]["name"] == f"{layer}.construct")
        return total(f"{layer}.construct", untraced) - memo_s / untraced["passes"]

    first_start = next(s for s in spans if s["name"] == "session.start")
    build_s = total("caching.build", untraced, "sec")
    remat_s = total("caching.remat", untraced, "sec")
    out = {
        "session.start_s": (duration(first_start), "s"),
        "queries.construct_s": (construct_self("queries"), "s"),
        "queries.plan_s": (total("queries.plan", untraced), "s"),
        "queries.exec_s": (total("queries.exec", untraced), "s"),
        "plans.construct_s": (construct_self("plans"), "s"),
        "plans.plan_s": (total("plans.plan", untraced), "s"),
        "plans.exec_s": (total("plans.exec", untraced), "s"),
        "caching.build_s": (build_s, "s"),
        "caching.build_n": (count("caching.build", untraced), "count"),
        "caching.remat_s": (remat_s, "s"),
        "caching.remat_n": (count("caching.remat", untraced), "count"),
        "caching.waste_frac": (remat_s / (build_s + remat_s) if build_s + remat_s else 0.0,
                               "ratio"),
        "sources.write_s": (total("sources.write", untraced), "s"),
        "sources.write_rows": (total("sources.write", untraced, "rows"), "count"),
    }
    for memo in CORPUS_MEMOS:
        secs = sum(s["sec"] for s in spans if s["name"] == "caching.build"
                   and s.get("memo") == memo and in_phase(s, untraced))
        out[f"caching.build_s.{memo}"] = (secs / untraced["passes"], "s")

    tot = eventlog.totals(folded)
    units = {"run_s": "s", "cpu_s": "s", "gc_s": "s", "boot_s": "s", "init_s": "s",
             "jobs": "count", "stages": "count", "tasks": "count"}
    for k, v in tot["exec"].items():
        per = v if k == "peak_mem_b" else v / traced["passes"]
        out[f"spark_exec.{k}"] = (per, units.get(k, "B"))
    out["spark_exec.cpu_util"] = (tot["exec"]["cpu_s"] / (traced["wall_s"] * cores), "ratio")
    for k, v in tot["py"].items():
        out[f"pyworker.{k}"] = (v / traced["passes"], units.get(k, "B"))
    out["process.peak_rss_mb"] = (rss_mb, "MB")
    warmup = next(s for s in spans if s["name"] == "warmup")
    out["setup.warmup_s"] = (duration(warmup), "s")
    out["trace.overhead_frac"] = (
        _median_pass(spans, "traced") / _median_pass(spans, "untraced") - 1.0, "ratio")
    return out


def _median_pass(spans: list[dict], phase: str) -> float:
    return statistics.median(duration(s) for s in spans
                             if s["name"] == "pass" and s.get("phase") == phase)


def _ledger_intervals(spans: list[dict], clock_offset: float) -> list[tuple]:
    """Memo build intervals of the traced phase on the epoch-ms clock."""
    return [((s["start"] + clock_offset) * 1e3, (s["end"] + clock_offset) * 1e3, s["memo"])
            for s in spans if s["name"] == "caching.build" and s.get("phase") == "traced"]


def _metadata(args, cores: int, spark_conf: dict) -> dict:
    import pyspark

    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], check=True,
                                    capture_output=True, text=True).stdout.strip()
        except (OSError, subprocess.CalledProcessError):
            commit = None
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cores, "git_commit": commit,
        "pyspark": pyspark.__version__, "host_ram_gb": host_ram_gb(),
        **spark_conf,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cores = len(os.sched_getaffinity(0))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    workdir = os.path.join(out_dir, f"run-{os.getpid()}")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    try:
        return _run(args, cores, out_dir, workdir, tmp)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _run(args, cores: int, out_dir: str, workdir: str, tmp: str) -> int:
    # local[<cores>]; scratch (Spark local dirs, JVM and Python temp files)
    # stays inside the checkout
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData")))
    clock_offset = time.time() - time.perf_counter()

    bench = Bench(args.workload, args.seed, workdir)
    try:
        bench.workload.prepare()
        bench.setup(traced=False)
        bench.warmup()
        setup_s = since_process_start()
        conf = bench.spark.sparkContext.getConf()
        spark_conf = {"spark.driver.memory": conf.get("spark.driver.memory", "unset"),
                      "spark.master": bench.spark.sparkContext.master}
        if args.trace:
            # one untimed pass first, so both halves start JIT-warm and the
            # traced/untraced comparison is not a cold/warm one
            bench.run_phase("warmup", 0)
            order = ["untraced", "traced"] if args.seed % 2 == 0 else ["traced", "untraced"]
            phases = {ph: bench.run_phase(ph, args.seconds / 2) for ph in order}
        else:
            phases = {"untraced": bench.run_phase("untraced", args.seconds)}
        bench.check_outputs()
        rss = bench.peak_rss_mb()
    finally:
        bench.shutdown()

    if args.trace:
        folded = eventlog.fold(eventlog.read_events(bench.eventlog_dir),
                               _ledger_intervals(bench.tracer.spans, clock_offset))
        metrics = per_layer(bench, phases, folded, cores, rss)
    else:
        folded = {}
        metrics = end_to_end(setup_s, phases["untraced"])

    attempted = len(bench.ops)
    failed = sum(1 for o in bench.ops if not o["ok"])
    lat = [o["latency_s"] for o in bench.ops if o["phase"] == "untraced"]
    meta = _metadata(args, cores, spark_conf)
    summary = {"failed_frac": failed_frac(bench.ops), "ops": attempted,
               "op_p50_s": statistics.median(lat), "op_p75_s": tail_percentile(lat, 0.75),
               "peak_rss_mb": rss, "setup_s": setup_s, "untraced": phases["untraced"],
               **meta}
    record = {"meta": meta, "summary": summary, "phases": phases,
              "metrics": {k: v for k, (v, _) in metrics.items()},
              "ops": bench.ops, "spans": bench.tracer.spans, "eventlog_groups": folded}
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as fh:
        json.dump(record, fh, default=str)

    for o in bench.ops:
        if not o["ok"]:
            print(f"FAILED {o['name']} (pass {o['pass']}): {o['error']}", file=sys.stderr)
    print("# " + json.dumps(summary))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
