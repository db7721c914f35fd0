"""Physical-plan auditing — mechanized `.explain()` review.

The scale contract of this engine is not "the query returns rows", it is
"the plan is the one you would want on a 1000-executor cluster": filters
reach the parquet scan, small dimensions broadcast, windows never run
unpartitioned, exchanges are counted and justified. This module turns
those review points into assertions so they are pinned by tests
(``tests/test_plans.py``) instead of living in someone's memory of an
`.explain()` reading.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame


def _initial_plans_only(plan: str) -> str:
    """Drop the ``== Final Plan ==`` half of every executed adaptive plan.

    A materialized adaptive plan prints its final plan and then its initial
    plan; a persisted frame's plan nested under an ``InMemoryRelation`` does
    so once the frame has been computed. Keeping only the initial half
    counts each operator once, in its pre-execution form. Tree depth is
    read from the position of each line's operator name."""
    out, skip_at = [], None
    for line in plan.splitlines():
        indent = len(line) - len(line.lstrip(" :+-"))
        if skip_at is not None:
            if indent > skip_at or (
                indent == skip_at and "== Initial Plan ==" not in line
            ):
                continue
            skip_at = None
        if "== Final Plan ==" in line:
            skip_at = indent
            continue
        out.append(line)
    return "\n".join(out)


def physical_plan(df: DataFrame) -> str:
    """The pre-execution physical plan text (AQE isFinalPlan=false form —
    stable to assert against, no runtime re-plan noise)."""
    return _initial_plans_only(df._jdf.queryExecution().executedPlan().toString())


def cached_plan(df: DataFrame) -> str:
    """The pre-execution physical plan a persisted frame's cache is built
    from (its ``InMemoryRelation``'s ``cachedPlan``)."""
    cache_manager = df.sparkSession._jsparkSession.sharedState().cacheManager()
    cached = cache_manager.lookupCachedData(df._jdf)
    if not cached.isDefined():
        raise AssertionError("frame is not cached")
    return _initial_plans_only(cached.get().cachedRepresentation().cachedPlan().toString())


@dataclass
class PlanAudit:
    """Operator counts + scan details extracted from one physical plan."""

    exchanges: int
    broadcast_exchanges: int
    sorts: int
    windows: int
    broadcast_hash_joins: int
    sort_merge_joins: int
    unpartitioned_windows: int
    scans: list[dict]

    def scan_for(self, path_fragment: str) -> dict:
        for s in self.scans:
            if path_fragment in s["location"]:
                return s
        raise AssertionError(
            f"no scan matching {path_fragment!r}; scans: "
            f"{[s['location'] for s in self.scans]}"
        )


_BOUNDED_CHILDREN = (
    "TakeOrderedAndProject",
    "WindowGroupLimit",
    "GlobalLimit",
    "LocalLimit",
)


def unpartitioned_window_lines(plan: str) -> list[str]:
    """Window OPERATOR lines that run unpartitioned over an input not
    bounded by construction.

    Operator-level parsing (round 8 — replaces windowspecdefinition
    counting, which had two defects: a one-nesting-level regex silently
    matched NOTHING for any frame ending in ``currentrow$()`` /
    ``unboundedpreceding$()`` — i.e. almost every window — and the spec
    string omits the partition key in Catalyst's decorrelated-LATERAL
    rewrite, yielding a false positive on a correctly partitioned
    window). The operator renders as ``Window [exprs], [partition],
    [order]`` when partitioned and ``Window [exprs], [order]`` when not;
    the trailing bracket groups are flat, so they parse reliably from
    the end of the line. A window whose DIRECT child (next plan line) is
    a TakeOrdered/limit/WindowGroupLimit node ranks ≤k survivors — the
    ``topk_ranked`` shape — and is skipped as bounded by construction;
    everything else unpartitioned must be allowlisted with a measured
    justification in tools/window_audit.py."""
    lines = plan.splitlines()
    flagged: list[str] = []
    for i, line in enumerate(lines):
        if "Window [" not in line or "WindowGroupLimit" in line:
            continue
        tail = line[line.rindex(")") + 1 :] if ")" in line else line
        groups = re.findall(r"\[([^\[\]]*)\]", tail)
        if len(groups) >= 2 and groups[-2].strip():
            continue  # operator-level partition present
        if groups and not (
            " ASC" in groups[-1] or " DESC" in groups[-1]
        ):
            continue  # partition-only window (no order clause)
        nxt = lines[i + 1] if i + 1 < len(lines) else ""
        if any(b in nxt for b in _BOUNDED_CHILDREN):
            continue  # rank over ≤k limit survivors
        flagged.append(line.strip())
    return flagged


def audit(df: DataFrame) -> PlanAudit:
    return audit_plan(physical_plan(df))


def audit_plan(plan: str) -> PlanAudit:
    unpartitioned = len(unpartitioned_window_lines(plan))
    # executedPlan().toString() renders each FileScan on one line:
    # "FileScan parquet [cols] Batched: true, ..., Location: InMemoryFileIndex
    #  (1 paths)[file:/...], ..., PushedFilters: [...], ReadSchema: struct<...>"
    scans = []
    for line in plan.splitlines():
        if "FileScan" not in line and "Scan parquet" not in line:
            continue
        loc = re.search(r"Location: [^\[,]*\[([^\]]*)\]", line)
        pf = re.search(r"PushedFilters: \[([^\]]*)\]", line)
        rs = re.search(r"ReadSchema: (\S+)", line)
        scans.append(
            {
                "location": loc.group(1) if loc else "",
                "pushed_filters": [
                    f.strip() for f in (pf.group(1) if pf else "").split(",") if f.strip()
                ],
                "read_schema": rs.group(1) if rs else "",
            }
        )
    return PlanAudit(
        exchanges=len(re.findall(r"Exchange hashpartitioning", plan)),
        broadcast_exchanges=len(re.findall(r"BroadcastExchange", plan)),
        sorts=len(re.findall(r"\bSort \[", plan)),
        windows=len(re.findall(r"\bWindow \[", plan)),
        broadcast_hash_joins=len(re.findall(r"BroadcastHashJoin", plan)),
        sort_merge_joins=len(re.findall(r"SortMergeJoin", plan)),
        unpartitioned_windows=unpartitioned,
        scans=scans,
    )


def assert_no_unpartitioned_window(df: DataFrame) -> None:
    """Fail if any window in the plan moves all rows to one partition
    (the WindowExec 'No Partition Defined' degradation)."""
    for line in unpartitioned_window_lines(physical_plan(df)):
        raise AssertionError(f"unpartitioned window found: {line[:160]}")
