"""The benchmark's own arithmetic, kept free of Spark so it can be
unit-tested: interval unions, percentiles, self time, ratios.

Times are seconds as floats; an interval is a ``(start, end)`` pair
on one clock.
"""

from __future__ import annotations

import math

MIN_BEYOND = 10


def interval_union(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``. Jobs of one op can run
    concurrently, so their summed durations overstate the wall time
    they cover; the union does not."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    """``intervals`` cut to the window ``[lo, hi]``; empty ones dropped."""
    out = []
    for start, end in intervals:
        s, e = max(start, lo), min(end, hi)
        if e > s:
            out.append((s, e))
    return out


def self_time(span: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    lo, hi = span
    return (hi - lo) - interval_union(clip(children, lo, hi))


def driver_gap(op: tuple[float, float], jobs: list[tuple[float, float]]) -> float:
    """Op wall time during which no Spark job of the op was running:
    plan building, eager driver-side work and Python between jobs."""
    return self_time(op, jobs)


def _rank(pct: float, n: int) -> int:
    """1-based nearest rank; rounded first so 99.9% of 10000 is 9990."""
    return max(1, math.ceil(round(pct * n / 100.0, 9)))


def nearest_rank(values: list[float], pct: float) -> float:
    """The ``pct`` percentile by nearest rank: the smallest sample
    with at least ``pct`` percent of the samples at or below it."""
    if not values:
        raise ValueError("no samples")
    ordered = sorted(values)
    return ordered[_rank(pct, len(ordered)) - 1]


def tail_percentile(n: int, grid: tuple[float, ...] = (50, 75, 80, 90, 95, 99, 99.9)) -> float | None:
    """Highest percentile in ``grid`` that leaves at least
    ``MIN_BEYOND`` of ``n`` samples above its nearest rank, or None
    when even the median does not."""
    best = None
    for pct in grid:
        if n - _rank(pct, n) >= MIN_BEYOND:
            best = pct
    return best


def failed_share(attempted: int, failed: int) -> float:
    """Failed ops over attempted ops."""
    if attempted < 1:
        raise ValueError("nothing attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return failed / attempted


def write_amplification(bytes_written: int, logical_bytes: int) -> float:
    """Bytes a store wrote per byte of new data it was given."""
    return bytes_written / logical_bytes


def space_amplification(bytes_on_disk: int, live_bytes: int) -> float:
    """Bytes a store keeps on disk per byte of its current version."""
    return bytes_on_disk / live_bytes


def footprint_ratio(input_bytes: int, stored_bytes: int) -> float:
    """Disk a workload needs per input byte: its inputs plus what the
    program leaves behind (staged fixtures, published versions)."""
    return (input_bytes + stored_bytes) / input_bytes
