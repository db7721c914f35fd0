"""Metric core: window-spec builders + the five cohort metrics (W1-W9).

Reference semantics (SURVEY.md §2.5): all metrics are row-count-preserving
windowed aggregates (pandas ``groupby(...).transform(...)`` / polars
``.over(...)``) over a 6-key-sorted frame (``pandas_DataModel.py:85-149``).
Spark has no physical row order, so the reference's global sort O1 becomes
per-window ``orderBy`` — no single-partition global sort exists anywhere in
the plan.

Partition scopes:
- patient   = (UID)
- treatment = (UID, TreatmentTypeID, Tmt_StartDate) — the triple, not just
  the type, identifies a treatment episode ("user might have been in Trt 1
  first, switched to Trt 2 and back to 1" — ``pandas_DataModel.py:108-110``)
- cohort    = treatment + the dynamic cohort column ('week'|'month'|'ClinicID')

Determinism: the reference's 6-key sort has no unique tiebreaker, so its
``first``/``last``/``diff`` are order-dependent under ties (SURVEY.md §2.4).
Our σ appends ``Weight`` as a final deterministic tiebreaker — stable where
the reference is not, identical where the reference is well-defined.

Scale notes: every window partitions by UID first, so all window stages
share one hash-partitioning of the fact table — Catalyst collapses the
exchanges into a single shuffle followed by in-partition sorts. Cohort
cardinality per (user, treatment) is small (weeks of a treatment), so no
skew: the heaviest partition is one patient's weigh-in history.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

# Days-per-month divisor used by both .py scripts (pandas_DataModel.py:98,
# polars_DataModel.py:94).
DAYS_PER_MONTH = 30.417
DAYS_PER_WEEK = 7

COHORT_CHOICES = ("week", "month", "ClinicID")

# σ — in-partition sort key (O1 keys that vary within a UID partition,
# pandas_DataModel.py:85-90) + deterministic tiebreaker.
SIGMA = ("Wts_CreatedDate", "Wts_UpdatedDate", "Weight")


def sigma_cols(prefix_keys: tuple[str, ...] = ()) -> list[Column]:
    """σ ascending NULLS LAST — pandas ``sort_values`` places NaN last
    (``na_position='last'`` default) and ANSI/DuckDB ASC defaults to NULLS
    LAST, while Spark ASC defaults to nulls *first*; made explicit so all
    three agree on left-join null rows.

    ``prefix_keys`` (episode keys inside the patient window) use NULLS
    FIRST instead: semantically free — a user's rows either all have a
    treatment or none do (left join), so episode-key nulls never compete
    with non-nulls inside one partition — and it makes this window's
    required sort byte-identical to the treatment/cohort windows' sort
    (whose partition keys Spark sorts NULLS FIRST), letting the planner
    reuse ONE in-partition sort across adjacent window operators instead
    of re-sorting between them."""
    return [F.col(c).asc_nulls_first() for c in prefix_keys] + [
        F.col(c).asc_nulls_last() for c in SIGMA
    ]


def w_patient() -> WindowSpec:
    """Patient scope, ordered by the full in-partition σ.

    Within a UID partition the O1 keys TreatmentTypeID/Tmt_StartDate still
    vary (multi-treatment users), so they prefix σ here to reproduce the
    global sort order exactly.
    """
    return Window.partitionBy("UID").orderBy(
        *sigma_cols(("TreatmentTypeID", "Tmt_StartDate"))
    )


def w_treatment() -> WindowSpec:
    return Window.partitionBy("UID", "TreatmentTypeID", "Tmt_StartDate").orderBy(
        *sigma_cols()
    )


def w_cohort(cohort_col: str) -> WindowSpec:
    return Window.partitionBy(
        "UID", "TreatmentTypeID", "Tmt_StartDate", cohort_col
    ).orderBy(*sigma_cols())


def _full(w: WindowSpec) -> WindowSpec:
    """Unbounded frame — transform('first'/'last'/'count'/'max') sees the
    whole group regardless of the current row's position."""
    return w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)


def month_bucket() -> Column:
    """W1 — ``floor((Wts_CreatedDate − Tmt_StartDate).days / 30.417)``
    (``pandas_DataModel.py:97-99``).

    ``F.floor`` rounds toward −∞ like Python ``math.floor``, so
    pre-treatment weigh-ins land in negative buckets identically.
    The reference's row-wise ``.apply(math.floor)`` — its only "UDF" —
    is a pure builtin here (whole-stage codegen, no Python).
    """
    b = F.floor(F.datediff("Wts_CreatedDate", "Tmt_StartDate") / DAYS_PER_MONTH)
    return b.cast("int")


def week_bucket() -> Column:
    """W2 — ``floor(days / 7)`` (``pandas_DataModel.py:102-103``)."""
    b = F.floor(F.datediff("Wts_CreatedDate", "Tmt_StartDate") / DAYS_PER_WEEK)
    return b.cast("int")


def weigh_in_rate(cohort_col: str) -> Column:
    """W3 ``WIR`` — count of non-null Wts_UpdatedDate per cohort
    (``pandas_DataModel.py:112-114``). ``F.count(col)`` skips nulls, exactly
    matching pandas ``transform('count')`` / polars ``.count()``."""
    return F.count("Wts_UpdatedDate").over(_full(w_cohort(cohort_col)))


def patient_starting_weight() -> Column:
    """W4 ``PSW`` — first Weight in σ order per patient
    (``pandas_DataModel.py:117``). The explicit orderBy + unbounded frame is
    load-bearing: Spark ``first`` without order is nondeterministic."""
    return F.first("Weight").over(_full(w_patient()))


def treatment_starting_weight() -> Column:
    """W5 ``TSW`` — first Weight per treatment episode
    (``pandas_DataModel.py:120-121``)."""
    return F.first("Weight").over(_full(w_treatment()))


def treatment_ending_weight() -> Column:
    """W6 ``TEW`` — last Weight per treatment episode
    (``pandas_DataModel.py:129-130``; kept as a column in polars,
    ``polars_DataModel.py:130-132``)."""
    return F.last("Weight").over(_full(w_treatment()))


def cohort_first_weight(cohort_col: str) -> Column:
    """Per-row cohort-first weight — the materialized ``transform('first')``
    that feeds W8 (``pandas_DataModel.py:139-140``)."""
    return F.first("Weight").over(_full(w_cohort(cohort_col)))


def w_global(include_uid_created: bool = True) -> WindowSpec:
    """The reference's physical frame order as a window: the full O1 6-key
    sort with NO partitioning (``pandas_DataModel.py:85-90`` sorts the whole
    frame, then ``.diff(-1)`` at :141 runs over that order). Single-partition
    stage — exists only for ``strict_w8`` replication, never the default.

    All six O1 keys are present, including ``UIDCreatedDate`` (the
    reference's 2nd key): it is constant per UID in well-formed data, but
    strict-parity mode must not assume well-formedness. NULLS LAST matches
    pandas ``na_position='last'``. ``include_uid_created=False`` is for
    frames assembled without the users dimension (the column then does not
    exist to sort on)."""
    keys = [F.col("UID").asc_nulls_first()]
    if include_uid_created:
        keys.append(F.col("UIDCreatedDate").asc_nulls_last())
    return Window.orderBy(*keys, *sigma_cols(("TreatmentTypeID", "Tmt_StartDate")))


def with_cohort_metrics(
    df: DataFrame, cohort: str = "week", strict_w8: bool = False
) -> DataFrame:
    """Derive week/month buckets + all five metrics in one pass.

    Input: the assembled, renamed star frame (canonical clinical column
    names). Output adds ``month week WIR PSW TSW treatment_TBWL
    patient_TBWL``; row count is preserved.

    ``cohort`` selects the dynamic grouping column ('week' | 'month' |
    'ClinicID') — validated against an allowlist since it is injected as a
    column name (SURVEY.md §2.8, §7.4).

    ``strict_w8=True`` replicates the reference's W8 exactly, including its
    cross-user leak: ``pandas_DataModel.py:139-142`` computes ``diff(-1)``
    over the whole physically-sorted frame, so the last row of each
    treatment diffs against the NEXT group's first weight (across users).
    The default (clean-lead) scopes the lead to the treatment episode —
    reference semantics minus that leak (SURVEY.md §2.5, the single
    deliberate deviation). Strict mode runs the W8 lead over an
    unpartitioned window — a single-partition stage, acceptable only for
    parity testing, never at scale.
    """
    if cohort not in COHORT_CHOICES:
        raise ValueError(f"cohort must be one of {COHORT_CHOICES}, got {cohort!r}")

    df = df.withColumns({"month": month_bucket(), "week": week_bucket()})

    # ONE shuffle for the whole metric stage: hash-partition by UID
    # explicitly. Every window partitions by UID-plus-suffix keys, and
    # HashPartitioning(UID) satisfies ClusteredDistribution(UID, ...) —
    # so EnsureRequirements inserts no further exchange for any window,
    # and the final full-row distinct (whose keys include UID) is also
    # shuffle-free. Left to its own devices the planner partitions on the
    # FIRST window's full key set (UID, Trt, Start, cohort), which does
    # NOT satisfy the patient window's UID clustering → a second
    # full-data shuffle. At 100 TB, one wide-row shuffle saved per query.
    df = df.repartition(F.col("UID"))

    # Three explicit window stages in dependency order so the physical plan
    # needs only THREE in-partition sorts (cohort → treatment+patient →
    # cohort) instead of four: the patient and treatment specs share one
    # byte-identical sort (see sigma_cols), so they must be adjacent —
    # evaluating PSW first (dict order) used to wedge a cohort sort
    # between them. Materializing __first_w also evaluates the cohort
    # nth_value once instead of twice inside the wgt_diff expression.
    df = df.withColumn("__first_w", cohort_first_weight(cohort))
    tew = treatment_ending_weight()
    tsw = treatment_starting_weight()
    lead_window = (
        w_global(include_uid_created="UIDCreatedDate" in df.columns)
        if strict_w8
        else w_treatment()
    )
    df = df.withColumns(
        {
            "PSW": patient_starting_weight(),
            "TSW": tsw,
            "treatment_TBWL": tew - tsw,
            "__wgt_diff": F.col("__first_w") - F.lead("__first_w").over(lead_window),
        }
    )
    # W9 patient_TBWL = max W8 wgt_diff per cohort, nulls skipped
    # (pandas_DataModel.py:139-149). Positive = loss: the in-code comment
    # at pandas_DataModel.py:145 claims the opposite; the arithmetic and
    # captured outputs win (SURVEY.md §2.5 W9).
    df = df.withColumns(
        {
            "WIR": weigh_in_rate(cohort),
            "patient_TBWL": F.max("__wgt_diff").over(_full(w_cohort(cohort))),
        }
    )
    out_cols = [c for c in df.columns if not c.startswith("__")]
    # Reference column order: metrics appended as WIR, PSW, TSW,
    # treatment_TBWL, patient_TBWL.
    ordered = [c for c in out_cols if c not in ("WIR", "patient_TBWL")]
    insert_at = ordered.index("PSW")
    ordered = ordered[:insert_at] + ["WIR"] + ordered[insert_at:] + ["patient_TBWL"]
    return df.select(*ordered)
