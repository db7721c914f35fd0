"""Every registered query against its DuckDB oracle at the test scale,
with the comparison ``tools/oracle_check.py`` applies (row count, schema,
int/float dtype splits, values, signed zeros). One test per
query, so a failure names it; the test keeps its first name, from when it
covered the clinical cohort queries alone."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from datamodel_clinicaldata_spark.registry import ORACLE_SQL, QUERIES
from tools.oracle_check import compare


@pytest.mark.parametrize("name", QUERIES)
def test_clinical_query_matches_oracle(spark, sf_dir, duck, name):
    mismatches = compare(
        QUERIES[name](spark, sf_dir).toPandas(), duck.sql(ORACLE_SQL[name]).df()
    )
    assert not mismatches, f"{name}: " + "; ".join(mismatches)


def test_queries_clinical_imports_first():
    """``perfbench/check.py`` imports ``queries_clinical`` before anything
    else has imported the registry, whose import pulls in ``queries_csv``
    and its use of ``cohort_oracle``."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run(
        [sys.executable, "-c", "import datamodel_clinicaldata_spark.queries_clinical"],
        cwd=repo,
        check=True,
    )
