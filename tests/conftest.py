"""Shared fixtures: one session-scoped SparkSession + clinical CSV fixtures."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datamodel_clinicaldata_spark.fixtures import generate_clinical_csvs
from datamodel_clinicaldata_spark.schemas import TESTDATA_TABLES
from datamodel_clinicaldata_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    s = get_spark(
        "pytest",
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("warehouse")),
        },
    )
    yield s


@pytest.fixture(scope="session")
def clinical_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("clinical"))
    generate_clinical_csvs(d)
    return d


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="module")
def duck(sf_dir):
    """DuckDB with one view per testdata table, for oracle comparisons."""
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()
