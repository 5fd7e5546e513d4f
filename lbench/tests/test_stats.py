"""Unit tests for the benchmark's own statistics and tracer.

    python3 -m pytest lbench/tests -q
"""

import math
import os
import sys
import time
from types import SimpleNamespace

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402
from tracer import Tracer  # noqa: E402


@pytest.mark.parametrize(
    "n, want",
    [(0, None), (9, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0),
     (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_reportable_percentile_needs_ten_beyond(n, want):
    assert stats.reportable_percentile(n) == want


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile([3.0], 99) == 3.0


def test_diagnostics_reports_tail_only_with_enough_samples():
    few = stats.diagnostics({"a": [1.0] * 19})
    assert few == {"a": {"n": 19, "median_s": 1.0}}
    many = stats.diagnostics({"a": [float(i) for i in range(1, 41)]})
    assert many["a"]["p75_s"] == 30.0 and many["a"]["n"] == 40


def test_geomean_of_medians():
    got = stats.geomean_of_medians({"a": [1.0, 2.0, 3.0], "b": [4.0, 4.0, 100.0], "c": [9.0]}, ["a", "b"])
    assert math.isclose(got, math.sqrt(2.0 * 4.0))


def test_geomean_of_medians_refuses_missing_kind():
    with pytest.raises(ValueError):
        stats.geomean_of_medians({"a": [1.0]}, ["a", "b"])


def test_whole_cycles_drops_cut_and_failed_cycles():
    def rec(cycle, kind, ok=True):
        return {"cycle": cycle, "kind": kind, "ok": ok, "latency_s": 1.0}

    records = [
        rec(1, "x"), rec(1, "y"),
        rec(2, "x"),  # cut short: no y
        rec(3, "x"), rec(3, "y", ok=False),
        rec(4, "y"), rec(4, "x"),
    ]
    kept = stats.whole_cycles(records, ["x", "y"])
    assert sorted({r["cycle"] for r in kept}) == [1, 4]
    assert stats.by_kind(kept) == {"x": [1.0, 1.0], "y": [1.0, 1.0]}


def test_union_length_merges_overlaps():
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert stats.union_length([]) == 0


def _span(sid, parent, t0, t1):
    return SimpleNamespace(sid=sid, parent=parent, t0=t0, t1=t1)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps its sibling: covered once
        _span(3, 1, 2.0, 3.0),
    ]
    got = stats.self_times(spans)
    assert got == {0: 5.0, 1: 2.0, 2: 3.0, 3: 1.0}


def test_self_times_of_nested_spans_sum_to_root():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 4.0),
             _span(2, 0, 5.0, 6.0), _span(3, 1, 2.0, 3.0)]
    assert math.isclose(sum(stats.self_times(spans).values()), 10.0)


def test_tracer_spans_nest_and_self_times_sum_to_latency():
    tr = Tracer()

    def inner():
        time.sleep(0.002)

    def outer():
        time.sleep(0.001)
        wrapped_inner()
        wrapped_inner()

    wrapped_inner = tr._wrap("b", "inner", inner)  # noqa: SLF001
    wrapped_outer = tr._wrap("a", "outer", outer)  # noqa: SLF001
    wrapped_outer()  # not recording: no span
    assert tr.spans == []
    tr.recording = True
    with tr.span("client", "op", op=7):
        wrapped_outer()
    wrapped_outer()  # outside an op: no span
    assert [(s.layer, s.name, s.op) for s in tr.spans] == [
        ("client", "op", 7), ("a", "outer", 7), ("b", "inner", 7), ("b", "inner", 7)]
    assert [s.parent for s in tr.spans] == [None, 0, 1, 1]
    selfs = stats.self_times(tr.spans)
    assert math.isclose(sum(selfs.values()), tr.spans[0].duration, abs_tol=1e-9)
    assert selfs[2] >= 0.002 and selfs[3] >= 0.002
