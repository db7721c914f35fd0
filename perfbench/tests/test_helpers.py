"""Tests of the benchmark's pure helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402
import workloads  # noqa: E402
from stats import Span  # noqa: E402
from tracing import Tracer  # noqa: E402


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_same_seed_same_ops_and_order(workload):
    a = workloads.op_list(workload, 7)
    assert a == workloads.op_list(workload, 7)
    for n in range(3):
        assert workloads.pass_order(a, 7, n) == workloads.pass_order(a, 7, n)


def test_other_seed_other_draws_and_order():
    assert workloads.op_list("cohort", 1) != workloads.op_list("cohort", 2)
    ops = workloads.op_list("fixed_cost", 1)
    assert workloads.pass_order(ops, 1, 0) != workloads.pass_order(ops, 2, 0)
    assert workloads.pass_order(ops, 1, 0) != workloads.pass_order(ops, 1, 1)


def test_cohort_draws_stay_in_range():
    ops = workloads.op_list("cohort", 3)
    assert sum(op.kind == "materialize" for op in ops) == workloads.COHORT_MATERIALIZE
    for op in ops:
        p = op.cohort
        assert p.cohort in workloads.COHORT_CHOICES
        assert p.gender in workloads.GENDERS
        assert workloads.AGE_MIN <= p.min_age < p.max_age <= workloads.AGE_MAX
        assert p.clinic_id is None or 0 <= p.clinic_id < 25


def test_cohort_choices_match_engine():
    from datamodel_clinicaldata_spark.operators.windows import COHORT_CHOICES

    assert workloads.COHORT_CHOICES == COHORT_CHOICES


def test_workloads_cover_every_query_module():
    from datamodel_clinicaldata_spark.registry import ORACLE_SQL, QUERIES

    assert all(n in ORACLE_SQL for n in workloads.FIXED_COST_QUERIES)
    modules = {QUERIES[n].__module__ for n in workloads.FIXED_COST_QUERIES}
    # The cohort workload runs the queries_clinical pipeline.
    modules.add("datamodel_clinicaldata_spark.queries_clinical")
    assert modules == {f.__module__ for f in QUERIES.values()}


def test_tail_needs_ten_samples_beyond():
    assert stats.tail(list(range(10))) is None
    value, pct, n = stats.tail(list(range(11)))
    assert (value, n) == (0, 11) and pct == pytest.approx(100 / 11)
    # 100 samples: p90 is the highest percentile with ten beyond it.
    xs = [float(i) for i in range(100, 0, -1)]
    value, pct, n = stats.tail(xs)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(x > value for x in xs) == 10


def test_self_time_of_nested_spans():
    spans = [
        Span("op", "root", 0.0, 10.0),
        Span("queries", "build", 1.0, 4.0, parent=0),
        Span("sources", "read", 2.0, 3.0, parent=1),
        Span("operators", "sink", 5.0, 9.0, parent=0),
    ]
    assert stats.self_times(spans) == [3.0, 2.0, 1.0, 4.0]
    by_layer = stats.layer_self_times(spans)
    assert by_layer == {"op": 3.0, "queries": 2.0, "sources": 1.0, "operators": 4.0}
    assert sum(by_layer.values()) == spans[0].duration


def test_self_time_counts_overlapping_children_once():
    spans = [
        Span("op", "root", 0.0, 10.0),
        Span("a", "x", 1.0, 6.0, parent=0),
        Span("b", "y", 4.0, 8.0, parent=0),
    ]
    assert stats.self_times(spans)[0] == 3.0


def test_tracer_records_nested_spans_with_parents():
    ticks = iter(range(100))
    t = Tracer(enabled=True, clock=lambda: float(next(ticks)))
    with t.span("op", "q"):
        with t.span("queries", "q"):
            with t.span("sources", "read"):
                pass
        with t.span("planning", "q"):
            pass
    spans = t.take()
    assert [(s.layer, s.parent) for s in spans] == [
        ("op", None), ("queries", 0), ("sources", 1), ("planning", 0)
    ]
    assert sum(stats.layer_self_times(spans).values()) == spans[0].duration
    assert t.take() == []


def test_disabled_tracer_records_nothing():
    t = Tracer(enabled=False)
    with t.span("op", "q"):
        pass
    assert t.spans == []


def test_fail_ratio_counting():
    assert stats.fail_ratio(0, 10) == 0.0
    # 2 raised ops; one wrong query run in each of 3 passes.
    failed = stats.failed_ops(2, 3, {"q_wrong", "q_raised"}, {"q_raised"})
    assert failed == 5
    assert stats.fail_ratio(failed, 20) == 0.25
    with pytest.raises(ValueError):
        stats.fail_ratio(0, 0)


def test_spread_is_quartile_distance_over_median():
    assert stats.spread([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx(
        (4.5 - 1.5) / 3.0
    )
