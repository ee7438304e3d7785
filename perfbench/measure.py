"""Spans, percentile and failure-rate rules, and /proc readings."""

from __future__ import annotations

import contextlib
import math
import os
import statistics
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """In-memory spans: name, start, end, parent span id and run id, plus
    free-form attributes (phase, pass, op, memo). Written out at exit."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.attrs: dict = {}  # inherited by every span opened while set

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, **self.attrs, **attrs,
               "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, **attrs) -> dict:
        """Record a span measured elsewhere (a caching-ledger entry) under
        the innermost span that covers it."""
        parent = None
        for s in reversed(self.spans):
            if s["start"] <= start and end <= s.get("end", math.inf):
                parent = s["id"]
                break
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "run": self.run_id, **self.attrs, **attrs,
               "start": start, "end": end}
        self.spans.append(rec)
        return rec


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def tail_percentile(samples: list[float], q: float) -> float | None:
    """The q-quantile of ``samples``, or None unless at least ten samples
    lie beyond it (so p75 needs 40 samples, p90 needs 100)."""
    if math.floor(len(samples) * (1.0 - q) + 1e-9) < 10:
        return None
    return statistics.quantiles(samples, n=100, method="inclusive")[round(q * 100) - 1]


def failed_frac(outcomes: list[dict]) -> float:
    """Share of attempted ops that raised or failed their output check."""
    if not outcomes:
        raise ValueError("no ops attempted")
    return sum(1 for o in outcomes if not o["ok"]) / len(outcomes)


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended
        return None
    return raw[raw.rfind(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_snapshot(root: int) -> dict[int, tuple[int, float]]:
    """Parent pid and user+sys CPU seconds of each process in the tree,
    including its reaped children (so Python workers that exited are
    still counted)."""
    snap = {}
    for pid in descendants(root):
        st = _stat(pid)
        if st is not None:
            snap[pid] = (int(st[1]), sum(int(x) for x in st[11:15]) / _CLK_TCK)
    return snap


def cpu_between(before: dict[int, tuple[int, float]],
                after: dict[int, tuple[int, float]]) -> float:
    """CPU seconds the tree spent between two snapshots. A process that
    was alive at ``before`` and was reaped inside the tree by ``after``
    had its whole lifetime added to an ancestor's reaped-children time;
    its ``before`` reading is taken back off, so only the CPU it spent
    between the snapshots counts."""
    total = sum(cpu - before.get(pid, (0, 0.0))[1] for pid, (_, cpu) in after.items())
    for pid, (ppid, cpu) in before.items():
        if pid not in after and _ancestor_alive(ppid, before, after):
            total -= cpu
    return total


def _ancestor_alive(ppid: int, before: dict, after: dict) -> bool:
    while ppid in before:
        if ppid in after:
            return True
        ppid = before[ppid][0]
    return False


def since_process_start() -> float:
    """Seconds since this process started, on the boot clock the kernel
    stamps process start times with (10 ms resolution)."""
    start_ticks = int(_stat(os.getpid())[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / _CLK_TCK


def comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def host_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this host's CPUs since
    boot (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _CLK_TCK


def _meminfo_mb(key: str) -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith(f"{key}:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def mem_available_mb() -> float:
    return _meminfo_mb("MemAvailable")


def host_ram_gb() -> float:
    return _meminfo_mb("MemTotal") / 1024.0
