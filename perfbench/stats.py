"""Percentiles and span self-time: the arithmetic every report uses.

Pure functions over plain numbers, so `test_stats.py` can check them on
hand-built inputs without Spark.
"""

from __future__ import annotations

import math

#: a named percentile is reported only with this many samples beyond it
MIN_TAIL = 10


def percentile(values, q: float) -> float:
    """Linear-interpolation percentile (numpy's default method).
    ``inf`` marks a failed operation: it sorts last and so counts as
    missing every latency limit."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    if xs[hi] == math.inf:
        return xs[hi] if pos > lo else xs[lo]
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported(n: int, q: float) -> bool:
    """True when ``n`` samples leave at least MIN_TAIL beyond the
    ``q``-th percentile."""
    return n * (100.0 - q) / 100.0 >= MIN_TAIL


def covered(intervals) -> int:
    """Length of the union of ``(start, end)`` intervals."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict:
    """Self time of every span: its duration minus the part of its
    interval that its child spans cover (children clipped to the
    parent, overlapping children counted once).

    ``spans`` is an iterable of objects with ``id``, ``parent``,
    ``start`` and ``end``."""
    spans = list(spans)
    kids: dict = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        clipped = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in kids.get(s.id, ())
            if c.end > s.start and c.start < s.end
        ]
        out[s.id] = (s.end - s.start) - covered(clipped)
    return out
