"""The percentile rule, failed_frac counting, span parenting and the
process-tree CPU reading."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from perfbench.measure import (
    Tracer,
    cpu_between,
    cpu_snapshot,
    failed_frac,
    since_process_start,
    tail_percentile,
)


def test_p75_needs_ten_samples_beyond_it():
    assert tail_percentile([float(i) for i in range(39)], 0.75) is None
    got = tail_percentile([float(i) for i in range(40)], 0.75)
    assert got is not None and 28.0 < got < 30.0


def test_p90_needs_a_hundred_samples():
    assert tail_percentile([1.0] * 99, 0.90) is None
    assert tail_percentile([1.0] * 100, 0.90) == 1.0


def test_median_needs_twenty_samples():
    assert tail_percentile([1.0] * 19, 0.5) is None
    assert tail_percentile([1.0, 3.0] * 10, 0.5) == 2.0


def test_failed_frac_counts_raised_and_failed_checks():
    ops = [{"ok": True}, {"ok": False, "error": "ValueError: x"},
           {"ok": False, "error": "check: summary not among articles"}, {"ok": True}]
    assert failed_frac(ops) == 0.5
    assert failed_frac([{"ok": True}]) == 0.0


def test_failed_frac_without_ops_is_an_error():
    with pytest.raises(ValueError):
        failed_frac([])


def test_ledger_span_lands_under_innermost_covering_span():
    tr = Tracer("r")
    tr.attrs = {"phase": "untraced", "pass": 0}
    with tr.span("op", op="dedup_fuzzy") as op:
        with tr.span("queries.construct") as construct:
            pass
        with tr.span("queries.exec"):
            pass
    mid = (construct["start"] + construct["end"]) / 2
    build = tr.add("caching.build", construct["start"], mid, memo="m", sec=0.1)
    assert build["parent"] == construct["id"]
    assert build["phase"] == "untraced" and build["run"] == "r"
    late = tr.add("caching.remat", op["start"], op["end"], memo="m", sec=0.1)
    assert late["parent"] == op["id"]


def test_cpu_of_a_process_reaped_inside_the_tree_counts_from_before():
    # root 1 reaped worker 3 (via daemon 2, also gone); 3 had used 5 s
    # before the phase and 1 s in it, 2 used 2 s before and 0.5 s in it
    before = {1: (0, 10.0), 2: (1, 2.0), 3: (2, 5.0)}
    after = {1: (0, 10.0 + 2.5 + 6.0 + 0.25)}  # + 2's and 3's lifetimes + own
    assert cpu_between(before, after) == pytest.approx(0.5 + 1.0 + 0.25)


def test_cpu_of_a_process_that_left_the_tree_is_not_taken_off():
    # 3 was reparented outside the tree: none of its time reaches root 1
    before = {1: (0, 1.0), 3: (9, 4.0)}
    after = {1: (0, 1.5)}
    assert cpu_between(before, after) == pytest.approx(0.5)


_BURN = """
import sys, time
def burn(s):
    t = time.process_time()
    while time.process_time() - t < s:
        pass
burn(0.4)
print("ready", flush=True)
sys.stdin.read()
burn(0.1)
"""


def test_child_reaped_between_snapshots_counts_only_its_time_between():
    child = subprocess.Popen([sys.executable, "-c", _BURN], text=True,
                             stdin=subprocess.PIPE, stdout=subprocess.PIPE)
    assert child.stdout.readline().strip() == "ready"
    before = cpu_snapshot(os.getpid())
    assert child.pid in before
    child.stdin.close()
    child.wait()
    after = cpu_snapshot(os.getpid())
    assert child.pid not in after
    # 0.1 s of the child plus this process's own little; the 0.4 s the
    # child burned before the first snapshot must not count
    assert 0.08 <= cpu_between(before, after) < 0.3


def test_since_process_start_covers_the_interpreter_start():
    out = subprocess.run([sys.executable, "-c",
                          "import sys, time; sys.path.insert(0, sys.argv[1]); "
                          "from perfbench.measure import since_process_start; "
                          "time.sleep(0.3); print(since_process_start())",
                          os.path.dirname(os.path.dirname(os.path.dirname(
                              os.path.abspath(__file__))))],
                         capture_output=True, text=True, check=True)
    assert 0.3 <= float(out.stdout) < 5.0
    assert since_process_start() > 0
