"""Span self time, interval unions and the process-tree CPU meter."""

import subprocess
import sys
import time

import probe


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_union_length_merges_overlaps_and_skips_empty():
    assert probe.union_length([(0, 2), (1, 3), (5, 6), (4, 4)]) == 4
    assert probe.union_length([]) == 0


def test_self_time_nested_and_overlapping_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),  # overlaps span 2
        _span(2, 0, 3.0, 6.0),
        _span(3, 0, 8.0, 12.0),  # ends after its parent
        _span(4, 1, 2.0, 3.0),  # grandchild: counts against span 1 only
    ]
    got = probe.self_times(spans)
    assert got[0] == 10.0 - 5.0 - 2.0
    assert got[1] == 3.0 - 1.0
    assert got[2] == 3.0
    assert got[3] == 4.0
    assert got[4] == 1.0


def test_tracer_records_parents_and_self_time():
    t = probe.Tracer("run", enabled=True)
    with t.span("outer"):
        with t.span("inner"):
            pass
        with t.span("inner2"):
            pass
    spans = t.finish()
    assert [s["parent"] for s in spans] == [None, 0, 0]
    assert all(s["run"] == "run" for s in spans)
    outer = spans[0]
    children = sum(s["end"] - s["start"] for s in spans[1:])
    assert abs(outer["self_s"] - (outer["end"] - outer["start"] - children)) < 1e-9


def test_disabled_tracer_records_nothing():
    t = probe.Tracer("run", enabled=False)
    with t.span("x") as rec:
        assert rec is None
    assert t.finish() == []


def _burn(seconds):
    code = f"import time\nt = time.process_time() + {seconds}\nwhile time.process_time() < t: pass"
    return subprocess.Popen([sys.executable, "-c", code])


def test_tree_cpu_counts_live_and_reaped_children():
    before = probe.tree_cpu_s()
    child = _burn(0.3)
    child.wait()  # reaped: its time moves into this process's cutime
    reaped = probe.tree_cpu_s()
    assert reaped - before >= 0.25
    unreaped = _burn(0.3)
    time.sleep(1.0)  # done burning; not waited for, so counted on its own
    assert probe.tree_cpu_s() - reaped >= 0.25
    unreaped.wait()
