"""Percentiles that carry their sample count."""

from __future__ import annotations

import math
import statistics
from typing import NamedTuple


class Percentile(NamedTuple):
    """A percentile of ``n`` samples, ``beyond`` of which lie above it."""

    q: float
    value: float
    n: int
    beyond: int


def percentile(xs: list[float], q: float) -> Percentile:
    """The ``q``-th percentile (0 < q < 100) by linear interpolation
    between closest ranks, as ``statistics.quantiles(method='inclusive')``."""
    if not xs:
        raise ValueError("percentile of no samples")
    if not 0 < q < 100:
        raise ValueError(f"percentile must be in (0, 100), got {q}")
    s = sorted(xs)
    pos = (len(s) - 1) * q / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    value = s[lo] + (s[hi] - s[lo]) * (pos - lo)
    beyond = sum(1 for x in s if x > value)
    return Percentile(q, value, len(s), beyond)


def summarize(xs: list[float]) -> dict:
    """Median and p90 with the sample count, for the detail line.
    ``p90_beyond`` below 10 means the p90 rests on too few samples to
    be read as more than the tail's order of magnitude."""
    p50, p90 = percentile(xs, 50), percentile(xs, 90)
    return {
        "n": p50.n,
        "p50": p50.value,
        "p90": p90.value,
        "p90_beyond": p90.beyond,
        "mean": statistics.fmean(xs),
    }
