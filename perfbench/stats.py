"""Pure summary statistics the benchmark reports: medians, the fixed tail
percentile, interval unions (job-active time) and span self time.

Nothing here touches Spark, files or the clock, so every rule the reported
numbers depend on is unit-tested on tiny fixtures (perfbench/tests).
"""

from __future__ import annotations

import math
import statistics

# A tail percentile is only reported where at least this many samples lie
# beyond it.
TAIL_BEYOND = 10


def median(values):
    return statistics.median(values) if values else 0.0


def tail_percentile(n_samples: int, beyond: int = TAIL_BEYOND) -> int | None:
    """The highest whole percentile that leaves at least ``beyond`` of
    ``n_samples`` samples strictly above it under the nearest-rank rule;
    ``None`` when there are too few samples for any tail."""
    if n_samples <= beyond:
        return None
    return (100 * (n_samples - beyond)) // n_samples


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(xs)))
    return xs[rank - 1]


def merge_intervals(intervals):
    """Union of ``(start, end)`` intervals as a sorted list of disjoint ones."""
    merged: list[list[float]] = []
    for start, end in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if merged and start <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], end)
        else:
            merged.append([start, end])
    return [(s, e) for s, e in merged]


def covered(intervals, lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` that the union of ``intervals`` covers."""
    total = 0.0
    for s, e in merge_intervals(intervals):
        total += max(0.0, min(e, hi) - max(s, lo))
    return total


def self_times(spans) -> dict:
    """Self time of each span: its duration minus the part of its interval
    that its direct children cover (overlapping children count once).

    ``spans`` are mappings with ``id``, ``parent``, ``start`` and ``end``;
    returns ``{span id: self seconds}``."""
    children: dict = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    return {
        sp["id"]: (sp["end"] - sp["start"]) - covered(children.get(sp["id"], ()), sp["start"], sp["end"])
        for sp in spans
    }
