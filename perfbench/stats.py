"""Summary statistics and failure accounting for benchmark results."""

from __future__ import annotations

import math
import statistics

TAIL_MIN_BEYOND = 10  # a reported tail percentile keeps this many samples above it

def tail_rank(n: int) -> int | None:
    """The highest whole percentile at or above the median that has at
    least TAIL_MIN_BEYOND of ``n`` samples beyond it, or None when ``n`` is
    too small for any (fewer than 2 * TAIL_MIN_BEYOND samples)."""
    if n < 2 * TAIL_MIN_BEYOND:
        return None
    return (100 * (n - TAIL_MIN_BEYOND)) // n

def percentile(values: list[float], p: int) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    ordered = sorted(values)
    rank = max(1, math.ceil(p * len(ordered) / 100))
    return ordered[rank - 1]

def tail(values: list[float]) -> tuple[int, float] | None:
    """(rank, value) of the highest percentile with enough samples beyond."""
    rank = tail_rank(len(values))
    return None if rank is None else (rank, percentile(values, rank))

def median(values: list[float]) -> float:
    return statistics.median(values)

class Tally:
    """Operations attempted and failed; an output-check mismatch is a failed
    operation like an exception is."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def record(self, ok: bool, what: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)
        return ok

    @property
    def failure_share(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0

def result_line(tally: Tally, metrics: dict[str, tuple[float, str]]) -> dict:
    """The benchmark's result object: correct/attempted/failed/metrics."""
    return {
        "correct": tally.failed == 0,
        "attempted": max(1, tally.attempted),
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
