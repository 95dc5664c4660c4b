"""Pure helpers behind the benchmark's numbers: medians, the tail rule,
interval unions, span self time and the failure share.

Nothing here imports Spark or the engine, so the unit tests in
``perfbench/tests`` run in milliseconds.
"""

from __future__ import annotations

import statistics
from typing import Iterable, Sequence

# A tail percentile is only reported when at least this many samples of the
# same run lie above it.
TAIL_BEYOND = 10


def median(values: Sequence[float]) -> float | None:
    return statistics.median(values) if values else None


def tail(values: Sequence[float], beyond: int = TAIL_BEYOND) -> tuple[float, float] | None:
    """The highest percentile that still has ``beyond`` samples above it.

    Returns ``(percentile, value)`` where ``value`` is the ``beyond + 1``-th
    largest sample and ``percentile`` is the share of samples at or below
    it, or ``None`` when the run holds ``beyond`` samples or fewer.
    """
    n = len(values)
    if n <= beyond:
        return None
    ordered = sorted(values)
    rank = n - beyond  # 1-based rank of the chosen sample
    return 100.0 * rank / n, ordered[rank - 1]


def interval_union(
    intervals: Iterable[tuple[float, float]],
    lo: float | None = None,
    hi: float | None = None,
) -> float:
    """Total length covered by ``intervals``, each clipped to ``[lo, hi]``
    when those are given. Overlaps are counted once."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_gap(
    wall_start: float, wall_end: float, stage_intervals: Iterable[tuple[float, float]]
) -> float:
    """Wall time of a call that no Spark stage covered."""
    return (wall_end - wall_start) - interval_union(stage_intervals, wall_start, wall_end)


def self_time(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    return (end - start) - interval_union(children, start, end)


def failure_share(attempted: int, failed: int) -> float:
    """Failed or wrong operations as a share of those attempted."""
    if attempted < 1:
        raise ValueError("no operation was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted
