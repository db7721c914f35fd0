"""Query registry — every implemented operator exposed as a named query
with a DuckDB-oracle SQL twin (driver t2 contract, ``__spark_entry__.py``,
which serves both maps as they are, in registration order).

Each entry: ``QUERIES[name]`` is ``(spark, sf_dir) -> DataFrame`` built with
the engine's operators; ``ORACLE_SQL[name]`` is ANSI SQL DuckDB runs over
the same parquet tables. Column names (and, where feasible, types) are
aligned on both sides because the driver sorts columns by name before
value-hashing. Aggregates over doubles are ROUNDed identically on both
sides to keep IEEE accumulation-order noise out of the hash.

``register`` requires the oracle, so every query has one, ops with no
direct SQL form included: a sequential fold is replayed as a recursive
CTE, a hash banding with the same hash, and an approximate sketch reports
exact figures beside error-bound flags. ``tests/test_oracle_clinical.py``
checks every query against its oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE_SQL: dict[str, str] = {}


def register(name: str, oracle: str) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        ORACLE_SQL[name] = oracle
        return fn

    return deco


# Import modules for their registration side effects.
from datamodel_clinicaldata_spark import queries_clinical  # noqa: E402,F401
from datamodel_clinicaldata_spark import queries_csv  # noqa: E402,F401
from datamodel_clinicaldata_spark import queries_dedup  # noqa: E402,F401
from datamodel_clinicaldata_spark import queries_multimodal  # noqa: E402,F401
from datamodel_clinicaldata_spark import queries_relational  # noqa: E402,F401
from datamodel_clinicaldata_spark import queries_similarity  # noqa: E402,F401
from datamodel_clinicaldata_spark import queries_streaming  # noqa: E402,F401
from datamodel_clinicaldata_spark import queries_text  # noqa: E402,F401
from datamodel_clinicaldata_spark import queries_tpch  # noqa: E402,F401
from datamodel_clinicaldata_spark import queries_trainingdata  # noqa: E402,F401
