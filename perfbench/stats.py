"""Percentile and per-round arithmetic shared by the runner and its tests."""

from __future__ import annotations

import math
import statistics

#: a tail percentile is reported only when at least this many samples lie
#: beyond it
MIN_BEYOND = 10
REPORTABLE = (50, 75, 90, 95, 99)


def percentile(samples: list[float], p: float) -> float:
    """Linear-interpolated percentile (the numpy/"inclusive" definition)."""
    if not samples:
        raise ValueError("percentile of no samples")
    xs = sorted(samples)
    pos = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def n_beyond(n: int, p: float) -> int:
    """Samples that lie strictly above the p-th percentile position."""
    return n - math.ceil(n * p / 100.0)


def highest_reportable(n: int, min_beyond: int = MIN_BEYOND):
    """Highest of ``REPORTABLE`` with at least ``min_beyond`` of ``n``
    samples beyond it, or None when even the median has too few."""
    ok = [p for p in REPORTABLE if n_beyond(n, p) >= min_beyond]
    return max(ok) if ok else None


def per_round(samples, value) -> float:
    """What one round costs: the sum over the round's operations (told apart
    by label) of each operation's median ``value(sample)``."""
    by_label: dict[str, list[float]] = {}
    for s in samples:
        by_label.setdefault(s.label, []).append(value(s))
    return sum(statistics.median(v) for v in by_label.values())
