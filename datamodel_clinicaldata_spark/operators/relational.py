"""Relational core: joins, projections, renames, casts, filters, distinct.

Implements SURVEY.md §2.2 (J1/J2/J2a), §2.3 (P1-P6, F1-F3), §2.4 (O2) as
composable ``DataFrame -> DataFrame`` functions. Reference citations are on
each operator.

Scale notes (100 TB design points):
- Both reference joins are dim⟕fact with small dimension sides — the fact
  table is the big side, so we put it on the left/stream side and broadcast
  the dimensions explicitly. At 1000 executors this makes both joins
  shuffle-free map joins; only the window stage shuffles.
- Filters and projections are plain Catalyst expressions so pushdown /
  pruning reach the parquet scan for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# P2 — bulk rename map (pandas_DataModel.py:66-74 / polars_DataModel.py:65-73).
# After the two joins the duplicated timestamp columns are disambiguated.
RENAME_MAP = {
    "CreatedDate_users": "UIDCreatedDate",
    "CreatedDate_weights": "Wts_CreatedDate",
    "UpdatedDate_weights": "Wts_UpdatedDate",
    "IsActive_users": "UIDIsActive",
    "IsActive_weights": "Wts_IsActive",
    "StartDate": "Tmt_StartDate",
}


def assemble_star(users: DataFrame, weights: DataFrame, treatments: DataFrame) -> DataFrame:
    """J1 + J2 + J2a: users ⟕ weights ⟕ treatments on UID = MasterUserID.

    Reference: ``pandas_DataModel.py:56-63`` / ``polars_DataModel.py:58-62``.
    1:N fan-out users(1k) ⟕ weights(32k), then 1:1 ⟕ treatments(1k).

    Spark-first shape: we keep the reference's row semantics exactly (every
    user kept; weights columns null when a user has no weigh-ins). A LEFT
    join cannot broadcast its preserved (left) side, and here the left side
    is the small one, so users ⟕ weights runs as a shuffle join at scale —
    that single fact-table shuffle on UID is then *reused* by every window
    in the metric stage (all partition by UID first), so it is paid once.
    The treatments join is likewise left to the planner: treatments is
    per-user metadata, so it SCALES WITH THE USER POPULATION — small
    enough to broadcast at every test SF (and the planner does), but a
    forced hint would pin that choice past the threshold where it OOMs;
    un-forced, the planner degrades to reusing the same UID shuffle the
    metric stage already pays.

    Column handling mirrors J2a: the redundant right-side join keys
    (``MasterUserID``) are dropped after each join (the notebook verified
    UID == MasterUserID on all joined rows —
    ``pandas_DataModel.ipynb#cell7-out``), and ambiguous column names are
    suffixed *before* joining so no ``_x/_y`` cleanup pass is needed.
    """
    # Pre-suffix ambiguous columns (CreatedDate/UpdatedDate/IsActive) so the
    # joined frame has unique names — replaces pandas' _x/_y suffix dance.
    u = users.withColumnsRenamed(
        {"CreatedDate": "CreatedDate_users", "IsActive": "IsActive_users"}
    )
    w = weights.withColumnsRenamed(
        {
            "CreatedDate": "CreatedDate_weights",
            "UpdatedDate": "UpdatedDate_weights",
            "IsActive": "IsActive_weights",
        }
    )
    uw = u.join(w, u["UID"] == w["MasterUserID"], "left").drop(w["MasterUserID"])
    # J2: treatments is 1 row/user; broadcast-vs-shuffle is left to the
    # planner deliberately — see the docstring above for why no hint is set.
    t = treatments
    uwt = uw.join(
        t, uw["UID"] == t["MasterUserID"], "left"
    ).drop(t["MasterUserID"])
    return uwt


def rename_columns(df: DataFrame, mapping: dict[str, str] | None = None) -> DataFrame:
    """P2: dict-based bulk rename (``pandas_DataModel.py:66-74``)."""
    return df.withColumnsRenamed(mapping or RENAME_MAP)


def cast_timestamps(df: DataFrame, columns: list[str]) -> DataFrame:
    """P3: str→timestamp cast ×N (``pandas_DataModel.py:77-81``).

    Only needed when the source was read with ``typed_dates=False`` (the
    pandas path); a no-op cast on already-typed columns is safe.
    """
    return df.withColumns({c: F.to_timestamp(F.col(c)) for c in columns})


def filters(
    df: DataFrame,
    gender: str = "all",
    min_age: int = 18,
    max_age: int = 72,
    clinic_id: int | None = 5066,
    *,
    gender_col: str = "Gender",
    age_col: str = "Age",
    clinic_col: str = "ClinicID",
) -> DataFrame:
    """F1+F2+F3 — the reference's composable post-hoc filter.

    Mirrors ``filters(df, gender='all', min_age=18, max_age=72, ClinicID=5066)``
    (``pandas_DataModel.py:6-31`` / ``polars_DataModel.py:5-32``): categorical
    equality with an ``'all'`` identity branch, inclusive BETWEEN on age,
    numeric equality on clinic. Column names are parameterized so the same
    operator serves the testdata stand-in tables; ``clinic_id=None`` skips
    the clinic filter.
    """
    if gender != "all":
        df = df.filter(F.col(gender_col) == gender)
    df = df.filter(F.col(age_col).between(min_age, max_age))
    if clinic_id is not None:
        df = df.filter(F.col(clinic_col) == clinic_id)
    return df


def distinct_rows(df: DataFrame) -> DataFrame:
    """O2: full-row dedup, ``df.drop_duplicates()`` (``pandas_DataModel.py:161``).

    ``dropDuplicates`` is a hash aggregate over all columns — one shuffle.
    At 100 TB prefer dedup on a narrow key (see ``operators.dedup``); this
    full-row variant exists for reference parity.
    """
    return df.dropDuplicates()
