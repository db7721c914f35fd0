"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over ``datamodel_clinicaldata_spark.registry``: the engine's
query inventory in registration order (one entry per implemented operator
from SURVEY.md §2 plus the extension surface) and the matching DuckDB
oracle SQL. Every query has an oracle, and
``tests/test_oracle_clinical.py`` checks each one against it.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from datamodel_clinicaldata_spark.pipeline import flagship_query

    return flagship_query(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from datamodel_clinicaldata_spark.registry import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from datamodel_clinicaldata_spark.registry import ORACLE_SQL

    return dict(ORACLE_SQL)
