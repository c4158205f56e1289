"""Percentiles that say how many samples stand behind them."""

from __future__ import annotations

import math
from dataclasses import dataclass

#: A percentile is supported when at least this many samples lie above it.
MIN_BEYOND = 10


@dataclass(frozen=True)
class Percentile:
    q: float
    value: float
    n: int
    beyond: int

    @property
    def supported(self) -> bool:
        return self.beyond >= MIN_BEYOND

    def describe(self, unit: str) -> str:
        note = "" if self.supported else f" (fewer than {MIN_BEYOND} beyond)"
        return f"{self.value:.4f} {unit} n={self.n} beyond={self.beyond}{note}"


def percentile(samples, q: float) -> Percentile:
    """Nearest-rank percentile: the smallest sample with at least a
    share `q` of all samples at or below it."""
    if not samples:
        raise ValueError("percentile of no samples")
    if not 0.0 < q < 1.0:
        raise ValueError(f"q must lie in (0, 1), got {q}")
    xs = sorted(samples)
    rank = max(1, math.ceil(q * len(xs)))
    return Percentile(q, xs[rank - 1], len(xs), len(xs) - rank)


def samples_needed(q: float) -> int:
    """Fewest samples for which the q-percentile has MIN_BEYOND above it."""
    return math.ceil(MIN_BEYOND / (1.0 - q) - 1e-9)
