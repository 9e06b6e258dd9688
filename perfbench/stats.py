"""Metric arithmetic shared by the benchmark and its tests."""

from __future__ import annotations

import statistics
from typing import Iterable


def median(values: Iterable[float]) -> float:
    vals = list(values)
    if not vals:
        raise ValueError("median of no values")
    return float(statistics.median(vals))


def driver_share(wall_s: float, executor_run_s: float, cores: int) -> float:
    """Share of the layer's core-time not spent running tasks: the time
    the driver plans, schedules or waits while executors sit idle."""
    if wall_s <= 0:
        return 0.0
    return 1.0 - executor_run_s / (wall_s * cores)


def fail_ratio(failed: int, attempted: int) -> float:
    if attempted < 1:
        raise ValueError("fail_ratio needs at least one attempted operation")
    return failed / attempted


def edges_per_s(calls: Iterable[tuple[int, int, float]]) -> float:
    """GTEPS-style throughput over (edges, supersteps, seconds) calls:
    Σ(|E| × supersteps) / Σ seconds."""
    calls = list(calls)
    seconds = sum(c[2] for c in calls)
    if seconds <= 0:
        raise ValueError("edges_per_s needs a positive time")
    return sum(e * s for e, s, _ in calls) / seconds
