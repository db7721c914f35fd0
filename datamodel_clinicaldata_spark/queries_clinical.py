"""Flagship clinical cohort queries over driver testdata + DuckDB oracles.

The Spark side runs the real engine (``pipeline.run_cohort_pipeline``);
the oracle is a from-scratch ANSI-SQL restatement of the same semantics
(SURVEY.md §2) that DuckDB executes over identical parquet — a two-engine
differential oracle, mechanizing the reference's own pandas-vs-polars
cross-validation practice (SURVEY.md §5.1.3). ``cohort_oracle`` is that
restatement, shared with the CSV round trip (``queries_csv``);
``_STANDIN_VARIANTS`` lists the registered DataFrame-face variants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from datamodel_clinicaldata_spark.pipeline import (
    clinical_standins_from_testdata,
    run_cohort_pipeline,
)

# σ tiebreaker order used by every window (SURVEY.md §2.4 determinism fix).
_SIGMA = "Wts_CreatedDate ASC NULLS LAST, Wts_UpdatedDate ASC NULLS LAST, Weight ASC NULLS LAST"
_SIGMA_PAT = f"TreatmentTypeID ASC NULLS LAST, Tmt_StartDate ASC NULLS LAST, {_SIGMA}"
_FULL = "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"


def cohort_oracle(
    joined: str, cohort_col: str, where: str, strict_w8: bool = False
) -> str:
    """ANSI-SQL twin of ``run_cohort_pipeline`` (DuckDB).

    ``joined`` is CTE text ending in one named ``joined``: the renamed
    star, holding exactly the pass-through columns. ``where`` applies
    after the windows, before the final distinct.

    ``strict_w8=True`` replays the reference's EXACT W8: ``diff(-1)``
    over the whole physically-sorted frame (``pandas_DataModel.py:
    139-142``) — one UNPARTITIONED lead over the full O1 sort order, so
    the last row of each treatment diffs against the next group's (even
    the next USER's) first cohort weight. The default is the clean-lead
    deviation (SURVEY.md §2.5)."""
    lead_over = (
        f"ORDER BY UID ASC NULLS FIRST, {_SIGMA_PAT}"
        if strict_w8
        else f"PARTITION BY UID, TreatmentTypeID, Tmt_StartDate ORDER BY {_SIGMA}"
    )
    return f"""
WITH {joined}, bucketed AS (
  SELECT *,
         CAST(floor(date_diff('day', Tmt_StartDate, Wts_CreatedDate) / 30.417) AS INTEGER) AS month,
         CAST(floor(date_diff('day', Tmt_StartDate, Wts_CreatedDate) / 7) AS INTEGER) AS week
  FROM joined
), m1 AS (
  SELECT *,
         count(Wts_UpdatedDate) OVER w_coh AS WIR,
         first_value(Weight) OVER w_pat AS PSW,
         first_value(Weight) OVER w_trt AS TSW,
         last_value(Weight) OVER w_trt AS TEW,
         first_value(Weight) OVER w_coh AS first_w
  FROM bucketed
  WINDOW
    w_pat AS (PARTITION BY UID ORDER BY {_SIGMA_PAT} {_FULL}),
    w_trt AS (PARTITION BY UID, TreatmentTypeID, Tmt_StartDate ORDER BY {_SIGMA} {_FULL}),
    w_coh AS (PARTITION BY UID, TreatmentTypeID, Tmt_StartDate, {cohort_col} ORDER BY {_SIGMA} {_FULL})
), m2 AS (
  SELECT *,
         TEW - TSW AS treatment_TBWL,
         first_w - lead(first_w) OVER ({lead_over}) AS wgt_diff
  FROM m1
), m3 AS (
  SELECT *,
         max(wgt_diff) OVER (
           PARTITION BY UID, TreatmentTypeID, Tmt_StartDate, {cohort_col}
           ORDER BY {_SIGMA} {_FULL}
         ) AS patient_TBWL
  FROM m2
)
SELECT DISTINCT * EXCLUDE (TEW, first_w, wgt_diff)
FROM m3
WHERE {where}
"""


# The stand-in star over the parquet testdata — the DuckDB replay of
# ``pipeline.clinical_standins_from_testdata`` + ``assemble_star``.
_STANDIN_JOINED = """users AS (
  SELECT CAST(c_custkey AS VARCHAR) AS UID,
         c_name AS Name,
         c_mktsegment AS Gender,
         CAST(c_custkey % 60 + 15 AS BIGINT) AS Age,
         CAST(c_nationkey AS BIGINT) AS ClinicID,
         c_acctbal
  FROM customer
), weights AS (
  SELECT CAST(user_id AS VARCHAR) AS MasterUserID,
         value AS Weight,
         ts AS Wts_CreatedDate,
         CASE WHEN event_type <> 'error' THEN ts END AS Wts_UpdatedDate
  FROM events
), treatments AS (
  SELECT CAST(o_custkey AS VARCHAR) AS MasterUserID,
         min(o_orderpriority) AS TreatmentTypeID,
         min(o_orderdate) AS Tmt_StartDate
  FROM orders
  GROUP BY 1
), joined AS (
  SELECT u.*, w.Weight, w.Wts_CreatedDate, w.Wts_UpdatedDate,
         t.TreatmentTypeID, t.Tmt_StartDate
  FROM users u
  LEFT JOIN weights w ON u.UID = w.MasterUserID
  LEFT JOIN treatments t ON u.UID = t.MasterUserID
)"""


def _flagship_oracle(
    cohort_col: str, extra_where: str = "", strict_w8: bool = False
) -> str:
    """ANSI-SQL twin of ``flagship_query`` for a given cohort column, with
    ``extra_where`` appended to the stand-in age filter."""
    return cohort_oracle(
        _STANDIN_JOINED, cohort_col, f"Age BETWEEN 15 AND 74{extra_where}", strict_w8
    )


# Imported only now: the registry imports ``queries_csv``, which needs
# ``cohort_oracle`` while this module may still be initializing.
from datamodel_clinicaldata_spark.registry import register  # noqa: E402

# Registered stand-in variants: query name -> ``run_cohort_pipeline``
# keyword arguments over the full stand-in population (ages 15-74, every
# clinic). The oracle's WHERE comes from the same entry.
_STANDIN_VARIANTS = {
    "clinical_cohort_week": {"cohort": "week"},
    "clinical_cohort_month": {"cohort": "month"},
    "clinical_cohort_ClinicID": {"cohort": "ClinicID"},
    # F1+F3 run AFTER the window metrics, so PSW/WIR/TBWL stay computed
    # over the unfiltered population (SURVEY.md §2.3 filter-placement
    # note); 'BUILDING' is a Gender in the stand-in mapping.
    "clinical_cohort_week_filtered": {
        "cohort": "week", "gender": "BUILDING", "clinic_id": 5,
    },
    # Exact W8 replication (VERDICT r9 #8) with the reference's cross-user
    # diff(-1) leak; its lead is a single-partition window stage, for
    # parity only (``operators/windows.py:w_global``).
    "clinical_cohort_week_strict": {"cohort": "week", "strict_w8": True},
}


def _register_standin_variant(name: str, variant: dict) -> None:
    kw = {
        "gender": "all", "min_age": 15, "max_age": 74, "clinic_id": None,
        "strict_w8": False, **variant,
    }
    where = "" if kw["gender"] == "all" else f" AND Gender = '{kw['gender']}'"
    if kw["clinic_id"] is not None:
        where += f" AND ClinicID = {kw['clinic_id']}"

    @register(name, _flagship_oracle(kw["cohort"], where, kw["strict_w8"]))
    def query(spark: SparkSession, sf_dir: str) -> DataFrame:
        return run_cohort_pipeline(*clinical_standins_from_testdata(spark, sf_dir), **kw)


for _name, _variant in _STANDIN_VARIANTS.items():
    _register_standin_variant(_name, _variant)


# ---------------------------------------------------------------------------
# SQL face of the flagship (SURVEY.md §7.1: "the same pipeline registered as
# temp views + one spark.sql cohort query"). Same window semantics as the
# DataFrame engine, expressed as ONE Spark SQL text; registered against the
# SAME oracle as clinical_cohort_week, so the driver pins DataFrame face ≡
# SQL face ≡ DuckDB restatement (a three-way differential).
# ---------------------------------------------------------------------------
_SPARK_COHORT_WEEK_SQL = f"""
WITH joined AS (
  SELECT u.UID, u.Name, u.Gender, u.Age, u.ClinicID, u.c_acctbal,
         w.Weight, w.CreatedDate AS Wts_CreatedDate,
         w.UpdatedDate AS Wts_UpdatedDate,
         t.TreatmentTypeID, t.StartDate AS Tmt_StartDate
  FROM cl_users u
  LEFT JOIN cl_weights w ON u.UID = w.MasterUserID
  LEFT JOIN cl_treatments t ON u.UID = t.MasterUserID
), bucketed AS (
  SELECT *,
         CAST(floor(datediff(Wts_CreatedDate, Tmt_StartDate) / 30.417D) AS INT)
           AS month,
         CAST(floor(datediff(Wts_CreatedDate, Tmt_StartDate) / 7) AS INT)
           AS week
  FROM joined
), m1 AS (
  SELECT *,
         count(Wts_UpdatedDate) OVER (
           PARTITION BY UID, TreatmentTypeID, Tmt_StartDate, week
           ORDER BY {_SIGMA} {_FULL}) AS WIR,
         first_value(Weight) OVER (
           PARTITION BY UID ORDER BY {_SIGMA_PAT} {_FULL}) AS PSW,
         first_value(Weight) OVER (
           PARTITION BY UID, TreatmentTypeID, Tmt_StartDate
           ORDER BY {_SIGMA} {_FULL}) AS TSW,
         last_value(Weight) OVER (
           PARTITION BY UID, TreatmentTypeID, Tmt_StartDate
           ORDER BY {_SIGMA} {_FULL}) AS TEW,
         first_value(Weight) OVER (
           PARTITION BY UID, TreatmentTypeID, Tmt_StartDate, week
           ORDER BY {_SIGMA} {_FULL}) AS first_w
  FROM bucketed
), m2 AS (
  SELECT *,
         first_w - lead(first_w) OVER (
           PARTITION BY UID, TreatmentTypeID, Tmt_StartDate ORDER BY {_SIGMA}
         ) AS wgt_diff
  FROM m1
), m3 AS (
  SELECT *,
         max(wgt_diff) OVER (
           PARTITION BY UID, TreatmentTypeID, Tmt_StartDate, week
           ORDER BY {_SIGMA} {_FULL}) AS patient_TBWL
  FROM m2
)
SELECT DISTINCT
  UID, Name, Gender, Age, ClinicID, c_acctbal,
  Weight, Wts_CreatedDate, Wts_UpdatedDate,
  TreatmentTypeID, Tmt_StartDate,
  month, week, WIR, PSW, TSW,
  TEW - TSW AS treatment_TBWL,
  patient_TBWL
FROM m3
WHERE Age BETWEEN 15 AND 74
"""


@register("clinical_cohort_week_sqlface", _flagship_oracle("week"))
def clinical_cohort_week_sqlface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship weekly cohort pipeline as ONE ``spark.sql`` text over
    temp views (the engine's own stand-in frames registered as
    ``cl_users``/``cl_weights``/``cl_treatments``) — SURVEY.md §7.1's SQL
    surface. Window specs, σ tiebreakers, bucket arithmetic (``30.417D``
    forces double division, matching the DataFrame face's float divisor),
    and filter-after-window placement mirror the engine exactly; Catalyst
    compiles both faces to the same physical shape. Registered against
    the same DuckDB oracle as ``clinical_cohort_week``, so the driver's
    hash gate pins DataFrame face ≡ SQL face ≡ ANSI restatement."""
    users, weights, treatments = clinical_standins_from_testdata(spark, sf_dir)
    users.createOrReplaceTempView("cl_users")
    weights.createOrReplaceTempView("cl_weights")
    treatments.createOrReplaceTempView("cl_treatments")
    return spark.sql(_SPARK_COHORT_WEEK_SQL)
