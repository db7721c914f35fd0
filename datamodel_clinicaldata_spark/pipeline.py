"""The flagship clinical cohort pipeline + CLI — mirror of the reference's
``data_pipeline`` (``pandas_DataModel.py:34-161`` / ``polars_DataModel.py:35-166``).

Stages (reference order, SURVEY.md §3.1): scan ×3 → left join ×2 → key-drop
→ rename → cast → [sort becomes per-window orderBy] → derive week/month →
five windowed metrics → filter → distinct → return DataFrame.

Filter placement is load-bearing: filters run AFTER the window metrics
(``pandas_DataModel.py:154``), so PSW/WIR/TBWL are computed over the
unfiltered population. Catalyst will not push predicates through Window
operators (they are not on the partition keys), so the semantics survive
optimization by default (SURVEY.md §4.1).

Because no metric depends on a filter parameter, the pipeline is split in
two. ``cohort_model`` (star → rename → window metrics → distinct) is
persisted once per (input snapshot, cohort column, ``strict_w8``), already
deduplicated; a gender / age / clinic draw is then one filter over that
persisted model, with no joins, windows, aggregate or shuffle of its own.
Moving the distinct ahead of the filters keeps the result: a deterministic
row filter commutes with a full-row distinct, since rows equal in every
column pass or fail it together. The distinct adds no exchange either: the
window output is already hash-partitioned by ``UID``, one of its keys.

``run_cohort_pipeline`` is the engine core (DataFrames in, DataFrame out);
``data_pipeline`` wires it to clinical CSV/parquet sources exactly like the
reference CLI; ``clinical_standins_from_testdata`` casts the driver's
TPC-H-ish tables into the clinical roles (FIXTURES.md §5) so the same query
runs against /root/testdata.
"""

from __future__ import annotations

import argparse
import threading
from collections import OrderedDict
from typing import NamedTuple

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datamodel_clinicaldata_spark.operators.relational import (
    assemble_star,
    distinct_rows,
    filters,
    rename_columns,
)
from datamodel_clinicaldata_spark.operators.windows import (
    COHORT_CHOICES,
    with_cohort_metrics,
)
from datamodel_clinicaldata_spark.sources.readers import (
    file_listing,
    load_clinical_tables,
    read_table,
)

# S3 — the reference's "# Check" projection (pandas_DataModel.py:156-160).
CHECK_COLUMNS = ["Weight", "week", "WIR", "PSW", "TSW", "treatment_TBWL", "patient_TBWL"]

# Persisted cohort models kept at once; the least recently used one is
# unpersisted first.
MAX_MODELS = 8


class _Model(NamedTuple):
    inputs: tuple[DataFrame, DataFrame, DataFrame]
    fingerprint: tuple
    frame: DataFrame


_MODELS: OrderedDict[tuple, _Model] = OrderedDict()
_MODELS_LOCK = threading.Lock()

# (session UUID, sf_dir) -> (the three table reads, the stand-ins built on them)
_STANDINS: dict[tuple[str, str], tuple[tuple, tuple[DataFrame, DataFrame, DataFrame]]] = {}


def cohort_model(
    users: DataFrame,
    weights: DataFrame,
    treatments: DataFrame,
    cohort: str = "week",
    strict_w8: bool = False,
) -> DataFrame:
    """The parameter-free half of the pipeline — star, rename, window
    metrics, full-row distinct — persisted and shared by every filter draw.

    One model is kept per (cohort, ``strict_w8``, semantic hash of each
    input); a hit must also have semantically equal inputs and the same
    input file fingerprint, and still be cached, so
    ``spark.catalog.clearCache()`` drops every model. A hit returns the
    stored frame without building a plan. At most ``MAX_MODELS`` stay
    persisted (``MEMORY_AND_DISK_DESER``)."""
    inputs = (users, weights, treatments)
    key = (cohort, strict_w8, *(df.semanticHash() for df in inputs))
    # Spark's cache matches file scans by path alone, so a file rewritten in
    # place would keep being served from the old blocks; its length or
    # modification time changes the fingerprint instead, dropping the model.
    fingerprint = file_listing(users.sparkSession, [f for df in inputs for f in df.inputFiles()])
    with _MODELS_LOCK:
        old = _MODELS.pop(key, None)
        if old is not None:
            if (
                old.fingerprint == fingerprint
                and all(a.sameSemantics(b) for a, b in zip(old.inputs, inputs))
                and old.frame.storageLevel != StorageLevel.NONE
            ):
                _MODELS[key] = old
                return old.frame
            # Unpersist before building: the cache would otherwise
            # substitute the stale blocks into the new, equal plan.
            old.frame.unpersist()
        frame = distinct_rows(
            with_cohort_metrics(
                rename_columns(assemble_star(*inputs)), cohort=cohort, strict_w8=strict_w8
            )
        ).persist(StorageLevel.MEMORY_AND_DISK_DESER)
        _MODELS[key] = _Model(inputs, fingerprint, frame)
        while len(_MODELS) > MAX_MODELS:
            _MODELS.popitem(last=False)[1].frame.unpersist()
    return frame


def run_cohort_pipeline(
    users: DataFrame,
    weights: DataFrame,
    treatments: DataFrame,
    cohort: str = "week",
    gender: str = "all",
    min_age: int = 18,
    max_age: int = 72,
    clinic_id: int | None = 5066,
    strict_w8: bool = False,
) -> DataFrame:
    """The whole query as one composable function.

    ``clinic_id=None`` skips the clinic filter (engine extension beyond the
    reference signature — needed for stand-in tables whose clinic analog
    doesn't contain 5066). The final full-row distinct is the .py-script
    canon: pandas dedups (``pandas_DataModel.py:161``).
    ``strict_w8`` selects exact W8 replication including the reference's
    cross-user diff(-1) leak — see ``with_cohort_metrics``.
    A draw is one filter over the persisted ``cohort_model``, which already
    holds distinct rows: a deterministic row filter commutes with a
    full-row distinct, so filtering the deduplicated model returns the
    rows that deduplicating the filtered rows would.
    """
    model = cohort_model(users, weights, treatments, cohort=cohort, strict_w8=strict_w8)
    return filters(model, gender, min_age, max_age, clinic_id)


def data_pipeline(
    spark: SparkSession,
    path_to_data: str,
    cohort: str = "week",
    gender: str = "all",
    min_age: int = 18,
    max_age: int = 72,
    clinic_id: int = 5066,
    fmt: str = "csv",
) -> DataFrame:
    """CLI-equivalent entry: identical signature/defaults to the reference
    (``pandas_DataModel.py:34,164-186``; usage ``README.md:31-41``)."""
    t = load_clinical_tables(spark, path_to_data, fmt=fmt)
    return run_cohort_pipeline(
        t["users"],
        t["weights"],
        t["treatments"],
        cohort=cohort,
        gender=gender,
        min_age=min_age,
        max_age=max_age,
        clinic_id=clinic_id,
    )


def clinical_standins_from_testdata(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Cast driver testdata into the clinical roles (FIXTURES.md §5).

    - users     ← customer  (c_custkey PK; c_mktsegment as Gender;
                  c_nationkey as ClinicID; deterministic synthetic Age)
    - weights   ← events    (user_id FK; value as Weight; ts as CreatedDate;
                  UpdatedDate nulled on 'error' events to exercise WIR's
                  non-null-count semantics, SURVEY.md §2.5 W3)
    - treatments ← orders   (one episode per customer: earliest order date,
                  min priority — deterministic under ties)

    Every expression here is chosen to be exactly expressible in ANSI SQL so
    the DuckDB oracle can replay it verbatim.

    ``read_table`` returns the identical frame while a file is unchanged,
    so while all three reads are the frames the stand-ins were built on,
    the same three stand-ins are returned, already analyzed; a rewritten
    file or a new session gives a new read and new stand-ins.
    """
    reads = tuple(read_table(spark, sf_dir, t) for t in ("customer", "events", "orders"))
    key = (spark._jsparkSession.sessionUUID(), sf_dir)
    hit = _STANDINS.get(key)
    if hit is not None and all(a is b for a, b in zip(hit[0], reads)):
        return hit[1]
    customer, events, orders = reads

    users = customer.select(
        F.col("c_custkey").cast("string").alias("UID"),
        F.col("c_name").alias("Name"),
        F.col("c_mktsegment").alias("Gender"),
        (F.col("c_custkey") % 60 + 15).cast("long").alias("Age"),
        F.col("c_nationkey").cast("long").alias("ClinicID"),
        F.col("c_acctbal"),
    )
    weights = events.select(
        F.col("user_id").cast("string").alias("MasterUserID"),
        F.col("value").alias("Weight"),
        F.col("ts").alias("CreatedDate"),
        F.when(F.col("event_type") != "error", F.col("ts")).alias("UpdatedDate"),
    )
    treatments = orders.groupBy(
        F.col("o_custkey").cast("string").alias("MasterUserID")
    ).agg(
        F.min("o_orderpriority").alias("TreatmentTypeID"),
        F.min("o_orderdate").alias("StartDate"),
    )
    _STANDINS[key] = (reads, (users, weights, treatments))
    return users, weights, treatments


def flagship_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end slice (SURVEY.md §7.2) over the testdata tables, on the
    ``week`` cohort: scan, 2 left joins, rename, derived buckets, 5
    windowed metrics, filters, distinct — 80% of the reference operator
    inventory in one query."""
    users, weights, treatments = clinical_standins_from_testdata(spark, sf_dir)
    return run_cohort_pipeline(
        users,
        weights,
        treatments,
        cohort="week",
        gender="all",
        min_age=15,
        max_age=74,
        clinic_id=None,
    )


def flagship_query_observed(spark: SparkSession, sf_dir: str):
    """Flagship pipeline wired with the Observation API — per-action
    pipeline metrics (row count, null-weight count, age span) collected
    ON the executors DURING the normal action, no second pass and no
    extra job: the production observability pattern (a separate
    ``count()`` for monitoring would re-run the whole 100 TB plan).
    Returns ``(df, observation)``; read ``observation.get`` AFTER an
    action on ``df``."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("flagship_metrics")
    df = flagship_query(spark, sf_dir)
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("Weight").isNull().cast("long")).alias("n_null_weight"),
        F.min("Age").alias("min_age"),
        F.max("Age").alias("max_age"),
    )
    return observed, obs


def main() -> None:
    """argparse CLI — flag-for-flag mirror of ``pandas_DataModel.py:164-186``."""
    p = argparse.ArgumentParser(description="Clinical cohort weight-loss pipeline (PySpark)")
    p.add_argument("--path_to_data", required=True)
    p.add_argument("--cohort", default="week", choices=list(COHORT_CHOICES))
    p.add_argument("--gender", default="all", choices=["all", "Male", "Female"])
    p.add_argument("--min_age", type=int, default=18)
    p.add_argument("--max_age", type=int, default=72)
    p.add_argument("--ClinicID", type=int, default=5066)
    p.add_argument("--format", default="csv", choices=["csv", "parquet"])
    args = p.parse_args()

    from datamodel_clinicaldata_spark.session import get_spark

    spark = get_spark("clinical-cohort-cli")
    df = data_pipeline(
        spark,
        args.path_to_data,
        cohort=args.cohort,
        gender=args.gender,
        min_age=args.min_age,
        max_age=args.max_age,
        clinic_id=args.ClinicID,
        fmt=args.format,
    )
    # S3 — the reference's stdout check projection.
    df.select(*CHECK_COLUMNS).show(20, truncate=False)


if __name__ == "__main__":
    main()
