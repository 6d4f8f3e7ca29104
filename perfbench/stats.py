"""Latency statistics for the benchmark.

A timing is reported as its median and as a tail percentile. The tail is
reported only when at least `MIN_BEYOND` samples lie beyond it, so that it
is not one unlucky sample. A failed operation counts as a sample that
missed every latency limit: it enters the percentiles as +inf.
"""

from __future__ import annotations

import math
from typing import Iterable, Sequence

MIN_BEYOND = 10


def percentile(values: Sequence[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least q% of the
    samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < q <= 100:
        raise ValueError(f"percentile must be in (0, 100], got {q}")
    xs = sorted(values)
    rank = math.ceil(q / 100.0 * len(xs))
    return xs[max(rank, 1) - 1]


def p50(values: Sequence[float]) -> float:
    return percentile(values, 50)


def beyond(n: int, q: float) -> int:
    """How many of n samples lie strictly beyond the nearest-rank q-th
    percentile."""
    return n - math.ceil(q / 100.0 * n)


def tail(values: Sequence[float], q: float = 90) -> float | None:
    """The q-th percentile, or None when fewer than MIN_BEYOND samples lie
    beyond it."""
    if beyond(len(values), q) < MIN_BEYOND:
        return None
    return percentile(values, q)


def with_failures(latencies: Iterable[float], failed: int) -> list[float]:
    """Latency samples with each failure added as +inf (over every limit)."""
    return list(latencies) + [math.inf] * failed


def summarize(latencies_s: Sequence[float], failed: int = 0) -> dict:
    """p50 and p90 (ms) of one operation type, with the sample counts; p90
    is None below 100 samples."""
    xs = with_failures(latencies_s, failed)
    out = {"n": len(xs), "failed": failed, "p50_ms": None, "p90_ms": None}
    if xs:
        out["p50_ms"] = p50(xs) * 1e3
        t = tail(xs, 90)
        out["p90_ms"] = None if t is None else t * 1e3
    return out


def speed_factor(probe_s: Sequence[float], ref_ms: float) -> float:
    """How much faster the host would be at the reference speed: ref_ms over
    the median probe time. A time times this factor reads as it would on a
    host where the probe's median takes ref_ms."""
    return ref_ms / (p50(probe_s) * 1e3)


def geomean(values: Sequence[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
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


def clip(intervals: Iterable[tuple[float, float]], lo: float, hi: float):
    """Intervals cut to the window [lo, hi]."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]
