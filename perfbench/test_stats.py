"""Self-time and percentile arithmetic on hand-built inputs.

    python3 -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import math

import pytest

from perfbench.stats import covered, percentile, self_times, supported
from perfbench.tracing import Span, Tracer


def _span(id, parent, start, end, name="x"):
    return Span(id, name, start, end, parent, "op1", {})


def test_self_time_of_a_hand_built_tree():
    # root [0, 100) has children [10, 30) and [20, 50) that overlap, and
    # [90, 120) that runs past its end; a grandchild under [10, 30) must
    # not count against the root a second time
    spans = [
        _span("r", None, 0, 100),
        _span("a", "r", 10, 30),
        _span("b", "r", 20, 50),
        _span("c", "r", 90, 120),
        _span("g", "a", 12, 18),
    ]
    st = self_times(spans)
    assert st["r"] == 100 - (40 + 10)  # union [10, 50) + clipped [90, 100)
    assert st["a"] == 20 - 6
    assert st["b"] == 30
    assert st["c"] == 30
    assert st["g"] == 6


def test_covered_merges_touching_and_nested_intervals():
    assert covered([]) == 0
    assert covered([(0, 10), (10, 20)]) == 20
    assert covered([(0, 10), (2, 3), (5, 15), (30, 31)]) == 16


def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 90) == pytest.approx(4.6)
    assert percentile([1.0, 2.0], 50) == 1.5


def test_failed_operations_miss_every_latency():
    xs = [1.0, 2.0, 3.0, math.inf]
    assert percentile(xs, 50) == 2.5
    assert percentile(xs, 99) == math.inf


def test_percentile_needs_ten_samples_beyond_it():
    assert supported(20, 50) and not supported(19, 50)
    assert supported(100, 90) and not supported(99, 90)
    assert supported(1000, 99) and not supported(999, 99)


def test_tracer_records_nesting_and_operation_ids():
    class Thing:
        def outer(self):
            return self.inner() + 1

        def inner(self):
            return 41

    t = Tracer()
    t.wrap(Thing, "outer", "thing.outer")
    t.wrap(Thing, "inner", "thing.inner", post=lambda s, a, k, r: {"r": r})
    assert Thing().outer() == 42 and not t.spans  # not recording
    t.recording = True
    t.op = "op7"
    assert Thing().outer() == 42
    t.uninstall()
    inner, outer = t.spans
    assert (outer.name, inner.name) == ("thing.outer", "thing.inner")
    assert inner.parent == outer.id and outer.parent is None
    assert inner.op == outer.op == "op7"
    assert inner.attrs == {"r": 41}
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert Thing.outer.__name__ == "outer" and not hasattr(Thing.outer, "__wrapped__")
