"""Pure helpers for the benchmark's numbers: percentiles, interval unions,
span self time. No Spark import, so they are unit-tested on their own."""

from __future__ import annotations

import math

#: a reported percentile needs at least this many samples beyond it
TAIL_SAMPLES = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``q`` of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(q * len(s)))
    return s[rank - 1]


def supports_percentile(n: int, q: float) -> bool:
    """True when ``n`` samples leave at least ``TAIL_SAMPLES`` beyond the
    ``q`` percentile (p50 needs 20 samples, p90 needs 100)."""
    return n - max(1, math.ceil(q * n)) >= TAIL_SAMPLES


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    """The parts of ``intervals`` that lie inside ``[lo, hi]``."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time per span id: its duration minus the part of its interval
    that its direct children cover (children may overlap one another,
    as writer threads do)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    return {
        sp["id"]: (sp["end"] - sp["start"])
        - union_seconds(clip(children.get(sp["id"], []), sp["start"], sp["end"]))
        for sp in spans
    }
