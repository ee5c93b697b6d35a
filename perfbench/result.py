"""What a workload run hands back to the runner, and the statistics it uses."""

from __future__ import annotations

import statistics
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass

FAILED = ("timeout_504", "error_5xx", "mismatch")


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def percentile(values: list[float], q: int) -> float:
    """The q-th percentile, interpolated between samples."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


@dataclass
class Result:
    """``outcomes`` counts ok / expected_422 / timeout_504 / error_5xx /
    mismatch over every request or query the run issued. ``finish`` turns
    the parsed event log into the remaining per-layer numbers of a traced
    run."""

    e2e: dict[str, float]
    layers: dict[str, float]
    outcomes: Counter
    detail: dict
    tracer: object
    finish: Callable[[dict], dict] | None = None

    @property
    def attempted(self) -> int:
        return sum(self.outcomes.values())

    @property
    def failed(self) -> int:
        return sum(self.outcomes[k] for k in FAILED)
