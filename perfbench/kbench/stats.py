"""Small statistics helpers shared by the workloads and the tracer."""

from __future__ import annotations

import math
from typing import Iterable, Sequence


def percentile(values: Sequence[float], q: float) -> tuple[float, int]:
    """``q``-th percentile (0..100) by linear interpolation between closest
    ranks (numpy's default ``linear`` method), returned with the sample
    count it was computed from.  Raises on an empty sample: a percentile of
    nothing is a harness bug, never a measurement."""
    if not 0.0 <= q <= 100.0:
        raise ValueError(f"percentile q must be in [0, 100], got {q}")
    xs = sorted(float(v) for v in values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), len(xs)


def median(values: Sequence[float]) -> float:
    return percentile(values, 50.0)[0]


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted((a, b) for a, b in intervals if b > a):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """A span's self time: its duration minus the part of its interval that
    the union of its children covers (children clipped to the parent, so
    concurrent or overlapping children are not subtracted twice)."""
    clipped = [(max(a, start), min(b, end)) for a, b in children]
    return (end - start) - union_length(clipped)
