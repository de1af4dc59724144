"""Arithmetic of the benchmark: percentiles under a sample-count rule,
interval unions, and open-loop lateness. Pure Python, no engine imports."""

from __future__ import annotations

import math

#: a percentile is reported only when at least this many samples lie beyond it
MIN_BEYOND = 10


def min_samples(q: float, beyond: int = MIN_BEYOND) -> int:
    """Fewest samples for which percentile ``q`` (0 < q < 1) has ``beyond``
    samples above it: 20 for the median, 100 for p90."""
    return max(1, math.ceil(beyond / (1.0 - q) - 1e-9))


def percentile(values, q: float, beyond: int = MIN_BEYOND) -> float:
    """Linear-interpolated percentile (the 'inclusive' method) of ``values``.
    Raises ``ValueError`` when fewer than :func:`min_samples` values are
    given, so no reported percentile rests on too few samples (``beyond``
    is lowered only by the smoke mode's tiny runs)."""
    xs = sorted(values)
    need = min_samples(q, beyond)
    if len(xs) < need:
        raise ValueError(f"p{round(q * 100)} needs {need} samples, got {len(xs)}")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def weighted_percentile(pairs, q: float, beyond: int = MIN_BEYOND) -> float:
    """Percentile of values given as ``(value, count)`` pairs, as if each
    value were repeated ``count`` times (nearest-rank). Used for per-event
    lag, where every event of one commit shares that commit's time."""
    pairs = sorted((v, int(n)) for v, n in pairs if n > 0)
    total = sum(n for _, n in pairs)
    need = min_samples(q, beyond)
    if total < need:
        raise ValueError(f"p{round(q * 100)} needs {need} samples, got {total}")
    rank = max(1, math.ceil(q * total))
    seen = 0
    for v, n in pairs:
        seen += n
        if seen >= rank:
            return v
    return pairs[-1][0]


def union_length(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals, overlaps counted
    once."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: tuple[float, float], children) -> float:
    """A span's duration minus the part of it its child spans cover
    (children clipped to the span; overlapping children counted once)."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)


def lateness(due, actual) -> list[float]:
    """Per-send lateness of an open-loop generator: how long after its due
    time each send happened (never negative)."""
    return [max(0.0, a - d) for d, a in zip(due, actual)]

