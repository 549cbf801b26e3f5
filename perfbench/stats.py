"""Small statistics used by every workload: the percentile rule, medians
and the attempted/failed tally behind ``error_rate``."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def reportable_percentile(n: int, min_beyond: int = 10) -> float | None:
    """The highest of the usual percentiles (50, 90, 95, 99, 99.9) that
    keeps at least ``min_beyond`` samples above it, or None when even
    the median does not (fewer than 2 * min_beyond samples)."""
    best = None
    for p in (50.0, 90.0, 95.0, 99.0, 99.9):
        if n - _rank(n, p) >= min_beyond:
            best = p
    return best


def _rank(n: int, p: float) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    return float(ordered[_rank(len(ordered), p) - 1])


def timing_summary(values: list[float]) -> dict:
    """Median, sample count, and the highest percentile with at least ten
    samples beyond it (absent when there are too few samples)."""
    out = {"p50": median(values), "n": len(values)}
    p = reportable_percentile(len(values))
    if p is not None and p > 50.0:
        out[f"p{p:g}"] = percentile(values, p)
    return out


@dataclass
class Tally:
    """Operations attempted and failed. An operation fails if it raises or
    if its output check fails."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def record(self, ok: bool, why: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if why and len(self.errors) < 5:
                self.errors.append(why)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0

    @property
    def correct(self) -> bool:
        return self.attempted > 0 and self.failed == 0


def count_diff(expected: dict, got: dict, limit: int = 3) -> str:
    """Empty when equal, else a short description of the first keys that
    differ."""
    keys = sorted(set(expected) | set(got), key=str)
    bad = [k for k in keys if expected.get(k, 0) != got.get(k, 0)]
    return "; ".join(
        f"{k}: expected {expected.get(k, 0)} got {got.get(k, 0)}" for k in bad[:limit]
    )
