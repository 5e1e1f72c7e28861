"""Arithmetic the benchmark reports with: medians, the tail-percentile rule,
geometric means, error rates and run-to-run spread. Pure Python, no Spark,
so the rules are unit-tested on their own (``perfbench/tests``)."""

from __future__ import annotations

import math
import statistics

# A tail percentile is reported only when at least this many samples lie
# beyond it, so one slow outlier can never be the reported tail.
TAIL_BEYOND = 10


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def tail_percentile(xs: list[float], beyond: int = TAIL_BEYOND
                    ) -> tuple[int, float] | None:
    """The highest whole percentile ``p`` above the median whose
    nearest-rank value still has at least ``beyond`` samples above it in
    rank, with that value: ``(p, value)``. ``None`` when the sample count
    (< 2 * beyond) admits no such percentile above the median."""
    n = len(xs)
    if n - beyond < 1:
        return None
    p = (100 * (n - beyond)) // n
    if p <= 50:
        return None
    rank = math.ceil(p * n / 100)  # nearest-rank, 1-based
    return p, float(sorted(xs)[rank - 1])


def geomean(xs: list[float]) -> float:
    if not xs:
        raise ValueError("geomean of no samples")
    if min(xs) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def error_rate(failed: int, attempted: int) -> float:
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return failed / attempted


def spread(xs: list[float]) -> float:
    """Inter-quartile range over the median, with the quartiles
    ``statistics.quantiles(xs, n=4)`` gives (the steadiness rule)."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / median(xs)


def summary(xs: list[float]) -> dict:
    """Median, the tail percentile where the sample count allows one, and
    the sample count — the shape every timing is recorded in."""
    out: dict = {"median": median(xs), "n": len(xs)}
    tail = tail_percentile(xs)
    if tail is not None:
        out[f"p{tail[0]}"] = tail[1]
    return out
