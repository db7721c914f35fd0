"""Unit tests for the metric core (W1-W9) on tiny hand-built frames with
hand-computed expectations — every W8 edge from SURVEY.md §2.5 (cohort gap,
single-row cohort, gain masking, last-row null)."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import Row

from datamodel_clinicaldata_spark.operators.windows import with_cohort_metrics


def _frame(spark, rows):
    return spark.createDataFrame(
        [
            Row(
                UID=r[0],
                TreatmentTypeID=1,
                Tmt_StartDate=datetime(2023, 1, 1),
                Wts_CreatedDate=datetime(2023, 1, 1) + timedelta(days=r[1])
                if r[1] is not None
                else None,
                Wts_UpdatedDate=datetime(2023, 1, 1) + timedelta(days=r[1]) if r[2] else None,
                Weight=float(r[3]) if r[3] is not None else None,
                Age=30,
                Gender="Male",
                ClinicID=5066,
            )
            for r in rows
        ]
    )


def _by_key(df, cohort="week"):
    out = {}
    for r in df.collect():
        out.setdefault(r["UID"], []).append(r)
    for v in out.values():
        v.sort(key=lambda r: (r["Wts_CreatedDate"] or datetime.min))
    return out


def test_week_month_buckets(spark):
    # day offsets 0, 6, 7, 13, 14 → weeks 0,0,1,1,2; month: all 0
    df = _frame(spark, [("u1", d, True, 70 + d) for d in [0, 6, 7, 13, 14]])
    res = _by_key(with_cohort_metrics(df, "week"))["u1"]
    assert [r["week"] for r in res] == [0, 0, 1, 1, 2]
    assert all(r["month"] == 0 for r in res)


def test_negative_bucket_floors_toward_neg_inf(spark):
    # 3 days before treatment start → floor(-3/7) = -1, floor(-3/30.417) = -1
    df = _frame(spark, [("u1", -3, True, 70.0), ("u1", 0, True, 71.0)])
    res = _by_key(with_cohort_metrics(df, "week"))["u1"]
    assert res[0]["week"] == -1 and res[0]["month"] == -1
    assert res[1]["week"] == 0 and res[1]["month"] == 0


def test_psw_tsw_first_in_sigma_order(spark):
    df = _frame(spark, [("u1", 5, True, 80.0), ("u1", 1, True, 85.0), ("u1", 9, True, 78.0)])
    res = _by_key(with_cohort_metrics(df, "week"))["u1"]
    # first by CreatedDate is the day-1 row (85.0), regardless of input order
    assert all(r["PSW"] == 85.0 for r in res)
    assert all(r["TSW"] == 85.0 for r in res)


def test_treatment_tbwl_negative_is_loss(spark):
    # 83.5 → 80.5: TEW - TSW = -3.0 (negative = loss, SURVEY.md §2.5 W7)
    df = _frame(spark, [("u1", 0, True, 83.5), ("u1", 7, True, 82.0), ("u1", 14, True, 80.5)])
    res = _by_key(with_cohort_metrics(df, "week"))["u1"]
    assert all(abs(r["treatment_TBWL"] - (-3.0)) < 1e-9 for r in res)


def test_wir_counts_nonnull_updated_only(spark):
    # week 0: 2 rows, one NULL UpdatedDate → WIR 1; week 1: 1 non-null → 1
    df = _frame(spark, [("u1", 0, True, 80.0), ("u1", 1, False, 79.5), ("u1", 7, True, 79.0)])
    res = _by_key(with_cohort_metrics(df, "week"))["u1"]
    assert [r["WIR"] for r in res] == [1, 1, 1]


def test_wgt_diff_interior_zero_and_boundary(spark):
    # week 0 first=83.5, week 1 first=81.8 → interior rows patient_TBWL
    # include boundary diff 1.7 via max(0.0, 1.7)
    df = _frame(
        spark,
        [("u1", 0, True, 83.5), ("u1", 2, True, 83.0), ("u1", 7, True, 81.8), ("u1", 9, True, 81.5)],
    )
    res = _by_key(with_cohort_metrics(df, "week"))["u1"]
    w0 = [r for r in res if r["week"] == 0]
    w1 = [r for r in res if r["week"] == 1]
    assert all(abs(r["patient_TBWL"] - 1.7) < 1e-9 for r in w0)
    # last cohort of the treatment: boundary lead is NULL → max over {0, NULL} = 0
    assert all(r["patient_TBWL"] == 0.0 for r in w1)


def test_cohort_gap_spans_missing_week(spark):
    # weeks 0 and 2 (no week 1): week-0 boundary diffs against week 2's first
    # (SURVEY.md §2.5 semantic 5)
    df = _frame(spark, [("u1", 0, True, 83.5), ("u1", 14, True, 81.8)])
    res = _by_key(with_cohort_metrics(df, "week"))["u1"]
    w0 = [r for r in res if r["week"] == 0]
    assert all(abs(r["patient_TBWL"] - 1.7) < 1e-9 for r in w0)


def test_single_row_cohort_exposes_negative_diff(spark):
    # single-row cohorts: week 0 = 80.0, week 1 = 80.8 (gain) → patient_TBWL
    # -0.8, NOT masked to 0 (SURVEY.md §2.5 semantic 3, the -0.8 case)
    df = _frame(spark, [("u1", 0, True, 80.0), ("u1", 7, True, 80.8)])
    res = _by_key(with_cohort_metrics(df, "week"))["u1"]
    w0 = [r for r in res if r["week"] == 0]
    assert all(abs(r["patient_TBWL"] - (-0.8)) < 1e-9 for r in w0)


def test_gain_masked_to_zero_in_multirow_cohort(spark):
    # multi-row week 0 then gain at week 1: max(0, -0.8) = 0 (semantic 3)
    df = _frame(
        spark, [("u1", 0, True, 80.0), ("u1", 2, True, 80.2), ("u1", 7, True, 80.8)]
    )
    res = _by_key(with_cohort_metrics(df, "week"))["u1"]
    w0 = [r for r in res if r["week"] == 0]
    assert all(r["patient_TBWL"] == 0.0 for r in w0)


def test_no_cross_user_leak(spark):
    # u1's last row must NOT diff against u2's first weight (the clean-lead
    # deviation, SURVEY.md §2.5 semantic 4)
    df = _frame(spark, [("u1", 0, True, 90.0), ("u2", 0, True, 60.0)])
    res = _by_key(with_cohort_metrics(df, "week"))
    assert res["u1"][0]["patient_TBWL"] is None  # max over {NULL}
    assert res["u2"][0]["patient_TBWL"] is None


def test_strict_w8_reproduces_cross_user_boundary_diff(spark):
    # strict_w8=True replicates the reference's diff(-1) over the whole
    # sorted frame (pandas_DataModel.py:139-142): u1's last row diffs
    # against u2's first cohort weight → patient_TBWL = 90 - 60 = 30.
    # The default (clean-lead) must keep the leak out.
    df = _frame(spark, [("u1", 0, True, 90.0), ("u2", 0, True, 60.0)])
    strict = _by_key(with_cohort_metrics(df, "week", strict_w8=True))
    assert abs(strict["u1"][0]["patient_TBWL"] - 30.0) < 1e-9  # leaked diff
    assert strict["u2"][0]["patient_TBWL"] is None  # frame-last row → NULL
    clean = _by_key(with_cohort_metrics(df, "week"))
    assert clean["u1"][0]["patient_TBWL"] is None
    assert clean["u2"][0]["patient_TBWL"] is None


def test_last_frame_row_null_diff(spark):
    # the very last row of a treatment gets NULL wgt_diff; single-row final
    # cohort → patient_TBWL NULL... but multi-row final cohort → 0.0
    df = _frame(spark, [("u1", 0, True, 80.0)])
    res = _by_key(with_cohort_metrics(df, "week"))["u1"]
    assert res[0]["patient_TBWL"] is None


def test_cohort_month_and_clinic_scopes(spark):
    df = _frame(spark, [("u1", 0, True, 80.0), ("u1", 40, True, 78.0)])
    bym = _by_key(with_cohort_metrics(df, "month"))["u1"]
    assert [r["month"] for r in bym] == [0, 1]
    assert abs(bym[0]["patient_TBWL"] - 2.0) < 1e-9
    # ClinicID cohort degenerates to per-treatment scope
    byc = _by_key(with_cohort_metrics(df, "ClinicID"))["u1"]
    assert all(r["WIR"] == 2 for r in byc)


def test_invalid_cohort_rejected(spark):
    df = _frame(spark, [("u1", 0, True, 80.0)])
    with pytest.raises(ValueError, match="cohort"):
        with_cohort_metrics(df, "DROP TABLE")


def test_month_bucket_uses_whole_days(spark):
    # The .py scripts bucket whole elapsed days (.dt.days): 30.5 days elapsed
    # is datediff 30 → floor(30/30.417) = 0, floor(30/7) = 4; the
    # time-of-day half day never moves a row into the next bucket.
    df = _frame(spark, [("u1", 30.5, True, 70.0)])
    res = _by_key(with_cohort_metrics(df, "week"))["u1"]
    assert res[0]["month"] == 0 and res[0]["week"] == 4


def test_time_bucket_gapfill_interpolation(spark):
    """Known series: values at hours 0 and 3 with a 2-bucket gap →
    linear fill 20, 30; edge rows keep their own sums; n_events=0 marks
    synthetic rows."""
    from datetime import datetime

    from datamodel_clinicaldata_spark.operators.timeseries import time_bucket_gapfill

    rows = [
        (1, datetime(2024, 1, 1, 0, 15), 4.0),
        (1, datetime(2024, 1, 1, 0, 45), 6.0),   # hour 0 sum = 10
        (1, datetime(2024, 1, 1, 3, 30), 40.0),  # hour 3 sum = 40
        (2, datetime(2024, 1, 1, 5, 0), 7.5),    # single-bucket user
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = {
        (r["user_id"], r["bucket_ts"].hour): (r["n_events"], r["value_fill_e4"])
        for r in time_bucket_gapfill(df).collect()
    }
    assert got == {
        (1, 0): (2, 100000),
        (1, 1): (0, 200000),   # 10 + (40-10) * 1/3
        (1, 2): (0, 300000),
        (1, 3): (1, 400000),
        (2, 5): (1, 75000),
    }


def test_scd2_and_upsert_semantics(spark):
    """SCD2: interval chain covers the timeline with one current row per
    key. Upsert: matched rows replaced wholesale, unmatched from both
    sides survive."""
    from datetime import datetime

    from datamodel_clinicaldata_spark.operators.temporal import (
        scd2_history,
        upsert_snapshot,
    )

    ev = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1), 10.0, "a"),
            (1, datetime(2024, 1, 2), 20.0, "b"),
            (2, datetime(2024, 1, 5), 5.0, "a"),
        ],
        "user_id long, ts timestamp, value double, event_type string",
    )
    hist = scd2_history(ev).collect()
    by_key = {}
    for r in hist:
        by_key.setdefault(r["user_id"], []).append(r)
    assert sum(1 for r in hist if r["is_current"]) == 2  # one current per key
    u1 = sorted(by_key[1], key=lambda r: r["valid_from"])
    assert u1[0]["valid_to"] == u1[1]["valid_from"]  # chained intervals
    assert u1[1]["valid_to"] is None

    tgt = spark.createDataFrame(
        [(1, "x", 1.0), (2, "y", 2.0)], "k long, name string, bal double"
    )
    src = spark.createDataFrame(
        [(2, "y2", None), (3, "z", 3.0)], "k long, name string, bal double"
    )
    got = {r["k"]: (r["name"], r["bal"]) for r in upsert_snapshot(tgt, src, "k").collect()}
    assert got == {
        1: ("x", 1.0),   # untouched
        2: ("y2", None), # replaced wholesale — source NULL wins
        3: ("z", 3.0),   # inserted
    }


def test_rolling_window_boundary_microseconds(spark):
    """Regression pin for the 24h RANGE boundary: events exactly 24h apart
    are IN the window; 24h + 1µs apart are OUT — the frame must compare
    epoch microseconds, not truncated seconds (the sf0.1 sweep caught the
    seconds-truncation variant of this)."""
    from datetime import datetime, timedelta

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    base = datetime(2024, 6, 1, 12, 0, 0, 500000)  # sub-second component
    rows = [
        (1, 1, base, 1.0),
        (2, 1, base + timedelta(hours=24), 1.0),                     # exactly 24h: in
        (3, 1, base + timedelta(hours=24, microseconds=1), 1.0),     # 24h+1µs: out
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp, value double")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-24 * 3600 * 1_000_000, 0)
    )
    got = {
        r["event_id"]: r["n"]
        for r in df.select("event_id", F.count(F.lit(1)).over(w).alias("n")).collect()
    }
    assert got == {1: 1, 2: 2, 3: 2}  # ev3 sees ev2 but NOT ev1


def test_gapfill_invariants_random(spark):
    """Gap fill over a randomized series: the spine covers every hour of
    each key's span exactly once, real buckets keep their event counts,
    and every synthetic bucket is interpolated between its anchors."""
    import random
    from datetime import datetime, timedelta

    from datamodel_clinicaldata_spark.operators.timeseries import time_bucket_gapfill

    rng = random.Random(7)
    base = datetime(2024, 3, 1)
    rows = []
    for uid in range(1, 6):
        for _ in range(rng.randint(1, 12)):
            rows.append(
                (
                    uid,
                    base + timedelta(hours=rng.randint(0, 72), minutes=rng.randint(0, 59)),
                    round(rng.uniform(-50, 50), 2),
                )
            )
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = time_bucket_gapfill(df).collect()

    per_key: dict[int, list] = {}
    for r in out:
        per_key.setdefault(r["user_id"], []).append(r)
    for uid, rs in per_key.items():
        ts = sorted(r["bucket_ts"] for r in rs)
        # contiguous hourly spine, no duplicates
        assert len(set(ts)) == len(ts)
        assert all((b - a) == timedelta(hours=1) for a, b in zip(ts, ts[1:]))
        # event counts preserved
        want = sum(1 for (u, _, _) in rows if u == uid)
        assert sum(r["n_events"] for r in rs) == want
        # every row has a filled value
        assert all(r["value_fill_e4"] is not None for r in rs)


def test_gapfill_plan_window_aggregates_deduped(spark):
    """r13 plan pin: the gapfill anchors are NAMED columns, so each of the
    two Window operators carries exactly its 2 running aggregates — the
    inline-anchor form expanded every fill-CASE reference into its own
    aggregate (11 windowspecdefinitions; measured plan bloat, see
    OPTIMIZATION_r13.md). 4 = (prev_v, prev_t) asc + (next_v, next_t) desc."""
    from datetime import datetime, timedelta

    from datamodel_clinicaldata_spark.operators.timeseries import time_bucket_gapfill

    base = datetime(2024, 3, 1)
    df = spark.createDataFrame(
        [(1, base + timedelta(hours=h), 1.0) for h in (0, 3)],
        "user_id long, ts timestamp, value double",
    )
    plan = (
        time_bucket_gapfill(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("windowspecdefinition") == 4, plan
