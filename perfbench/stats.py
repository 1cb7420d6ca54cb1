"""Pure helpers the benchmark reports with: percentiles and span self time."""

from __future__ import annotations

import math

TAIL_MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """The ``q``-th percentile (0..100) by linear interpolation between
    closest ranks (numpy's default method)."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_quantile(n: int, want: float = 95.0, min_beyond: int = TAIL_MIN_BEYOND) -> float:
    """The highest percentile at or below ``want`` that leaves at least
    ``min_beyond`` samples above it, floored at the median: with fewer than
    ``2 * min_beyond`` samples no percentile above the median is supported,
    and the tail figure is reported as the median."""
    if n <= 0:
        raise ValueError("tail quantile of an empty sample")
    supported = 100.0 * (1.0 - min_beyond / n)
    return max(50.0, min(want, supported))


def tail(values: list[float], want: float = 95.0) -> tuple[float, float]:
    """(quantile used, value) for the tail latency of ``values``."""
    q = tail_quantile(len(values), want)
    return q, percentile(values, q)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def probe_scales(probes: list[float], ref: float) -> list[float]:
    """Per-operation factors that turn wall time into reference-machine
    time: ``ref`` over the mean of the machine probes taken just before and
    just after the operation (``len(probes)`` is the operation count + 1)."""
    if len(probes) < 2:
        raise ValueError("need a probe before and after every operation")
    return [ref / ((a + b) / 2.0) for a, b in zip(probes, probes[1:])]


def self_time(span: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of its interval that its child
    spans cover. Children may overlap each other (threads) and may stick
    out of the parent; only their union inside the parent is subtracted."""
    start, end = span
    if end < start:
        raise ValueError("span ends before it starts")
    clipped = sorted(
        (max(start, s), min(end, e)) for s, e in children if min(end, e) > max(start, s)
    )
    covered = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered
