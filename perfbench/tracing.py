"""Layer spans recorded from outside the engine.

A ``Tracer`` keeps spans in memory. Each span runs under its own Spark job
group, so the jobs a layer call starts can be attributed to it afterwards
through ``statusTracker`` and the status store, which stays live with the
Spark UI disabled. ``install_layer_wrappers`` replaces the public functions
of the source, query, writer and session layers with timed wrappers; the
benchmark opens the planning and operator spans itself around its own calls.
A disabled tracer records nothing and sets no job group.
"""

from __future__ import annotations

import functools
import sys
import time
from contextlib import contextmanager

from stats import Span

GROUP_PREFIX = "perfbench-"


class Tracer:
    def __init__(self, enabled: bool = False, clock=time.perf_counter):
        self.enabled = enabled
        self.clock = clock
        self.spans: list[Span] = []
        self.op: int | None = None
        self.sc = None  # set once a session exists; job groups need it
        self._stack: list[tuple[int, str]] = []
        self._groups = 0

    def take(self) -> list[Span]:
        """Hand over the spans recorded so far and start a new list."""
        spans, self.spans = self.spans, []
        return spans

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(layer, name, self.clock(), 0.0, parent[0] if parent else None, self.op)
        self.spans.append(s)
        self._groups += 1
        group = f"{GROUP_PREFIX}{self._groups}"
        self._stack.append((idx, group))
        sc = self.sc
        if sc is not None:
            sc.setJobGroup(group, name)
        try:
            yield
        finally:
            s.end = self.clock()
            self._stack.pop()
            if sc is not None:
                s.jobs = list(sc.statusTracker().getJobIdsForGroup(group))
                if parent is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    sc.setJobGroup(parent[1], self.spans[parent[0]].name)

    def wrap(self, layer: str, fn, name: str | None = None):
        label = name or fn.__qualname__

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with self.span(layer, label):
                return fn(*args, **kwargs)

        return wrapped


def _rebind(original, replacement, package: str) -> None:
    """Point every ``package`` module attribute bound to ``original`` at
    ``replacement`` (modules import layer functions by name)."""
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == package or mod_name.startswith(package + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, replacement)


def install_layer_wrappers(tracer: Tracer) -> None:
    """Time every call into the source, query, writer and session layers."""
    from pyspark.sql.readwriter import DataFrameReader

    from datamodel_clinicaldata_spark import pipeline, session
    from datamodel_clinicaldata_spark.sources import readers, writers

    pkg = "datamodel_clinicaldata_spark"
    for layer, mod, attr in (
        ("sources", readers, "read_table"),
        ("sources", readers, "load_clinical_tables"),
        ("queries", pipeline, "clinical_standins_from_testdata"),
        ("queries", pipeline, "run_cohort_pipeline"),
        ("writers", writers, "write_partitioned"),
        ("session", session, "get_spark"),
    ):
        fn = getattr(mod, attr)
        _rebind(fn, tracer.wrap(layer, fn, f"{mod.__name__.rsplit('.', 1)[-1]}.{attr}"), pkg)
    for attr in ("parquet", "csv"):
        fn = getattr(DataFrameReader, attr)
        setattr(DataFrameReader, attr, tracer.wrap("sources", fn, f"DataFrameReader.{attr}"))


def stage_totals(sc, job_ids: list[int]) -> dict[str, float]:
    """Sum the status-store metrics of every stage the jobs ran. A stage
    shared by several jobs (a reused shuffle) is counted once; stages that
    were skipped ran no tasks and are left out."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    stage_ids: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = {"stages": 0, "tasks": 0, "failed_tasks": 0, "task_s": 0.0, "input_mb": 0.0,
           "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "spill_mb": 0.0}
    mb = 1.0 / (1 << 20)
    for sid in sorted(stage_ids):
        sd = store.lastStageAttempt(sid)
        if sd.status().toString() not in ("COMPLETE", "FAILED"):
            continue
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
        out["failed_tasks"] += sd.numFailedTasks()
        out["task_s"] += sd.executorRunTime() / 1000.0
        out["input_mb"] += sd.inputBytes() * mb
        out["shuffle_write_mb"] += sd.shuffleWriteBytes() * mb
        out["shuffle_read_mb"] += sd.shuffleReadBytes() * mb
        out["spill_mb"] += sd.diskBytesSpilled() * mb
    return out
