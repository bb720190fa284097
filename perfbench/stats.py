"""The benchmark's estimators: order statistics, efficiency and failure
counting. Pure Python, so they can be tested without Spark."""

from __future__ import annotations

import math
import statistics


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(xs, n=4)`` gives them;
    a single sample is its own quartiles."""
    if not xs:
        raise ValueError("quartiles of no samples")
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else math.inf


def top_percentile(xs: list[float], min_beyond: int = 10) -> tuple[float, float] | None:
    """The highest whole percentile that still has at least ``min_beyond``
    samples above it, with its value: ``(p, value)``. ``None`` when there
    are too few samples for any percentile to have that many beyond it.

    With ``n`` sorted samples the p-th percentile is taken as the sample at
    rank ``ceil(p/100 * n)`` (nearest rank), which leaves ``n - rank``
    samples beyond it."""
    n = len(xs)
    s = sorted(xs)
    for p in range(99, 0, -1):
        rank = math.ceil(p / 100 * n)
        if rank >= 1 and n - rank >= min_beyond:
            return float(p), s[rank - 1]
    return None


def scaling_efficiency(tput_big: float, tput_small: float, factor: float) -> float:
    """Throughput at ``factor`` times the slots divided by ``factor`` times
    the throughput at the smaller slot count (1.0 is linear scaling)."""
    if tput_small <= 0 or factor <= 0:
        raise ValueError("scaling efficiency needs positive throughput and factor")
    return tput_big / (factor * tput_small)


def count_failures(expected: dict, got_rows: list[tuple]) -> tuple[int, int]:
    """(attempted, failed) for keyed outputs checked against ground truth.

    Every expected key is one attempted operation. It fails when it is
    missing from ``got_rows`` (lost) or its first value differs
    (mismatched). An output row whose key was never expected, or repeats
    an earlier row's key, is one more failure."""
    got: dict = {}
    failed = 0
    for k, v in got_rows:
        if k in got or k not in expected:
            failed += 1
        got.setdefault(k, v)
    missing = object()
    failed += sum(1 for k, v in expected.items() if got.get(k, missing) != v)
    return len(expected), failed


def error_rate(attempted: int, failed: int) -> float:
    if attempted <= 0:
        raise ValueError("error rate of no attempted operations")
    return failed / attempted
