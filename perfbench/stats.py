"""Arithmetic behind the reported numbers, kept free of Spark so the unit
tests can pin it on fixed samples."""

from __future__ import annotations

import statistics

#: a tail percentile is reported only where at least this many samples lie
#: beyond it, so one slow outlier cannot be the whole tail
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(value, percentile)``: with ``n`` samples sorted ascending the
    value is the one at index ``n - beyond - 1`` and the percentile is
    ``100 * (n - beyond) / n``.  Raises when there are too few samples."""
    n = len(values)
    if n <= beyond:
        raise ValueError(f"a tail needs more than {beyond} samples, got {n}")
    return sorted(values)[n - beyond - 1], 100.0 * (n - beyond) / n


def transfer(collect_s: float, noop_s: float) -> float:
    """Transfer time of one query: ``collect()`` minus the noop-sink run of
    the same plan.  Not floored: a short result can collect faster than
    the noop run when the two differ only by timing noise, and a sum over
    queries should average that noise out, not keep only its positive
    half."""
    return collect_s - noop_s


def shares(build_s: float, execute_s: float, transfer_s: float,
           pass_s: float) -> dict[str, float]:
    """Each layer's time as a share of the pass it was measured in."""
    if pass_s <= 0:
        raise ValueError("pass time must be positive")
    return {"build": build_s / pass_s, "execute": execute_s / pass_s,
            "transfer": transfer_s / pass_s}


def task_skew(durations_by_stage: dict[int, list[float]]) -> float:
    """Max over stages of (slowest task / median task); 1.0 means even.

    Stages with a single task, or whose median task took no measurable
    time, carry no skew signal and are skipped; with none left the skew
    is 1.0."""
    worst = 1.0
    for durations in durations_by_stage.values():
        if len(durations) < 2:
            continue
        mid = statistics.median(durations)
        if mid > 0:
            worst = max(worst, max(durations) / mid)
    return worst
