"""Pure helpers: order statistics, failure ratio and span self time."""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

TAIL_BEYOND = 10


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def tail(xs: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int] | None:
    """The highest percentile of ``xs`` with at least ``beyond`` samples
    above it, as ``(value, percentile, sample_count)``.

    In ascending order, position ``n - beyond - 1`` is the highest one with
    ``beyond`` positions after it; its percentile is the share of samples at
    or before it. ``None`` when there are ``beyond`` samples or fewer.
    """
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return None
    k = n - beyond - 1
    return s[k], 100.0 * (k + 1) / n, n


def failed_ops(raised: int, passes: int, wrong: set[str], errored: set[str]) -> int:
    """Timed ops that failed: those that raised, plus every timed op of a
    query whose checked output was wrong (one per pass). A query that raised
    is counted by its raises alone."""
    return raised + passes * len(wrong - errored)


def fail_ratio(failed: int, attempted: int) -> float:
    if attempted < 1:
        raise ValueError("no op attempted")
    return failed / attempted


def spread(values: list[float]) -> float:
    """Distance between first and third quartile, as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


@dataclass
class Span:
    """One call into a layer. ``parent`` is the index of the enclosing span
    in the same span list, ``op`` the id of the op it ran under."""

    layer: str
    name: str
    start: float
    end: float
    parent: int | None = None
    op: int | None = None
    jobs: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, reach = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        lo = max(lo, reach)
        if hi > lo:
            total += hi - lo
            reach = hi
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its direct
    children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            kids.setdefault(s.parent, []).append(
                (max(s.start, p.start), min(s.end, p.end))
            )
    return [s.duration - _covered(kids.get(i, [])) for i, s in enumerate(spans)]


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s, t in zip(spans, self_times(spans)):
        out[s.layer] = out.get(s.layer, 0.0) + t
    return out
