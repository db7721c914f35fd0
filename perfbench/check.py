"""Output check: every op's result against its DuckDB twin on the same parquet.

Registered queries use ``ORACLE_SQL[name]``; cohort draws use
``queries_clinical._flagship_oracle`` with the draw's filters. Both sides are
canonicalized with ``tools/oracle_check.normalize``. A query without an
oracle must give the same result twice.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd


def oracle_sql(op) -> str | None:
    from datamodel_clinicaldata_spark.queries_clinical import _flagship_oracle
    from datamodel_clinicaldata_spark.registry import ORACLE_SQL

    if op.cohort is not None:
        return _flagship_oracle(op.cohort.cohort, op.cohort.oracle_where())
    return ORACLE_SQL.get(op.name)


def _connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    """A view per table of ``data_dir``; a workload ships only the tables
    its queries read."""
    from datamodel_clinicaldata_spark.schemas import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_frames(data_dir: str, ops) -> dict[str, pd.DataFrame | None]:
    """Each op's expected result, or ``None`` for a query without an oracle."""
    con = _connect(data_dir)
    try:
        return {
            op.name: con.sql(sql).df() if (sql := oracle_sql(op)) else None
            for op in ops
        }
    finally:
        con.close()


def written(path: str) -> pd.DataFrame:
    """Read back a directory-partitioned parquet write."""
    con = duckdb.connect()
    try:
        return con.sql(
            f"SELECT * FROM read_parquet('{path}/**/*.parquet', hive_partitioning = true)"
        ).df()
    finally:
        con.close()


def diff(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """``None`` when the frames hold the same rows, else what differs."""
    from tools.oracle_check import normalize

    try:
        g, w = normalize(got), normalize(want)
    except TypeError as e:
        return f"canonicalize: {e}"
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} vs {list(w.columns)}"
    if len(g) != len(w):
        return f"rowcount {len(g)} vs {len(w)}"
    try:
        pd.testing.assert_frame_equal(
            g, w, check_dtype=False, check_exact=False, rtol=1e-6, atol=1e-6
        )
    except AssertionError as e:
        return "values: " + " ".join(str(e).split())[:300]
    return None


def compare_all(runner, results: dict, oracles: dict) -> dict[str, str]:
    """Mismatch description per failing op name."""
    bad = {}
    for op in runner.ops:
        got = results.get(op.name)
        if got is None:
            continue  # the op raised; its error is reported already
        if op.kind == "materialize":
            got = written(got)
        want = oracles[op.name]
        if want is None:
            want = runner.run_op(op, collect=True)
        if (msg := diff(got, want)) is not None:
            bad[op.name] = msg
    return bad
