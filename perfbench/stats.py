"""The benchmark's arithmetic: summaries, interval unions and span self time.

Pure functions over plain numbers so ``perfbench/tests`` can pin them without
Spark.  Times are seconds; an interval is a ``(start, end)`` pair.
"""

from __future__ import annotations

import statistics
from collections.abc import Iterable, Sequence

#: samples a tail percentile must leave above it before it is reported
TAIL_BEYOND = 10


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail(values: Sequence[float], beyond: int = TAIL_BEYOND) -> dict | None:
    """The highest percentile that leaves at least ``beyond`` samples above it.

    With ``n`` sorted samples the value at 0-based rank ``k`` has ``n - 1 - k``
    samples beyond it, so the highest admissible rank is ``n - 1 - beyond``.
    Returns the value, its percentile (share of samples at or below it, in %),
    the sample count and the samples beyond; ``None`` when there are too few
    samples for any such percentile."""
    n = len(values)
    k = n - 1 - beyond
    if k < 0:
        return None
    ordered = sorted(values)
    return {"value": float(ordered[k]), "percentile": 100.0 * (k + 1) / n,
            "n": n, "beyond": n - 1 - k}


def union(intervals: Iterable[tuple[float, float]]) -> list[tuple[float, float]]:
    """Merge overlapping or touching intervals; empty ones are dropped."""
    merged: list[list[float]] = []
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if merged and s <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], e)
        else:
            merged.append([s, e])
    return [(s, e) for s, e in merged]


def covered(intervals: Iterable[tuple[float, float]],
            within: tuple[float, float] | None = None) -> float:
    """Length of the union of ``intervals``, clipped to ``within`` if given."""
    if within is not None:
        lo, hi = within
        intervals = [(max(s, lo), min(e, hi)) for s, e in intervals]
    return sum(e - s for s, e in union(intervals))


def driver_gap(wall: tuple[float, float],
               jobs: Iterable[tuple[float, float]]) -> float:
    """Wall time of an operation during which no Spark job was running:
    the wall interval minus the union of the job intervals inside it."""
    return (wall[1] - wall[0]) - covered(jobs, within=wall)


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its interval
    that its direct children cover.  Children may overlap one another (the
    alert pool runs several at once); the union counts each instant once.
    Spans are dicts with ``id``, ``parent`` (id or ``None``), ``start`` and
    ``end``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    return {sp["id"]: (sp["end"] - sp["start"])
            - covered(children.get(sp["id"], ()), within=(sp["start"], sp["end"]))
            for sp in spans}


def failed_frac(outcomes: Iterable[str]) -> tuple[int, int, float]:
    """``(attempted, failed, failed / attempted)`` over operation outcomes.
    Only ``"ok"`` succeeds: an error and an oracle mismatch both fail."""
    outcomes = list(outcomes)
    failed = sum(1 for o in outcomes if o != "ok")
    return len(outcomes), failed, (failed / len(outcomes) if outcomes else 0.0)

