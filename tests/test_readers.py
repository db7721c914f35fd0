"""Parquet table reads: a path is resolved once per session and the same
frame is returned until the file changes; ``events.ts`` reads the same
whichever timestamp unit the file stores."""

from __future__ import annotations

import os
import shutil

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from tools.oracle_check import compare

from datamodel_clinicaldata_spark.sources.readers import read_table


def _jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it started."""
    sc = spark.sparkContext
    group = "test-readers"
    sc.setJobGroup(group, "read")
    try:
        before = set(sc.statusTracker().getJobIdsForGroup(group))
        out = fn()
        return out, len(set(sc.statusTracker().getJobIdsForGroup(group)) - before)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_repeated_read_starts_no_job(spark, sf_dir, tmp_path):
    shutil.copy(os.path.join(sf_dir, "customer.parquet"), tmp_path)
    first, n_first = _jobs(spark, lambda: read_table(spark, str(tmp_path), "customer"))
    again, n_again = _jobs(spark, lambda: read_table(spark, str(tmp_path), "customer"))
    assert n_first >= 1
    assert n_again == 0
    assert again is first
    # Another session's conf shapes inference, so it resolves for itself.
    other = spark.newSession()
    theirs, n_other = _jobs(other, lambda: read_table(other, str(tmp_path), "customer"))
    assert n_other >= 1
    assert theirs is not first
    assert theirs.sparkSession is other
    assert read_table(other, str(tmp_path), "customer") is theirs


def test_file_rewritten_in_place_is_inferred_again(spark, sf_dir, tmp_path):
    path = str(tmp_path / "events.parquet")
    shutil.copy(os.path.join(sf_dir, "events.parquet"), path)
    assert "value" in read_table(spark, str(tmp_path), "events").columns
    t = pq.read_table(path)
    renamed = ["weight_kg" if c == "value" else c for c in t.column_names]
    pq.write_table(t.rename_columns(renamed), path)
    df = read_table(spark, str(tmp_path), "events")
    assert "weight_kg" in df.columns and "value" not in df.columns
    assert df.select(F.count("weight_kg")).first()[0] == t.num_rows
    assert read_table(spark, str(tmp_path), "events") is df


def test_memo_hit_keeps_event_ts_session_timestamp(spark, sf_dir, tmp_path):
    t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    path = str(tmp_path / "events.parquet")
    i = t.column_names.index("ts")
    pq.write_table(t.set_column(i, "ts", t["ts"].cast(pa.timestamp("ns"))), path)
    first = read_table(spark, str(tmp_path), "events")
    hit = read_table(spark, str(tmp_path), "events")
    assert hit is first
    assert dict(hit.dtypes)["ts"] == "timestamp"
    assert hit.select(F.max("ts")).first()[0] == t["ts"].to_pandas().max().to_pydatetime()


def test_self_join_of_two_reads_matches_duckdb(spark, sf_dir, tmp_path):
    """Two reads of one table are one frame: aliasing each side keeps the
    self-join unambiguous, and column references taken from the frame
    itself fail loudly instead of resolving both sides to one."""
    shutil.copy(os.path.join(sf_dir, "events.parquet"), tmp_path)
    left = read_table(spark, str(tmp_path), "events")
    right = read_table(spark, str(tmp_path), "events")
    with pytest.raises(AnalysisException, match="ambiguous"):
        left.join(
            right, (left["user_id"] == right["user_id"]) & (left["ts"] < right["ts"])
        ).select(left["event_id"], right["event_id"]).collect()
    a = left.alias("a")
    b = right.alias("b")
    got = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id")) & (F.col("a.ts") < F.col("b.ts")),
        )
        .select(F.col("a.event_id").alias("first_id"), F.col("b.event_id").alias("later_id"))
        .toPandas()
    )
    path = str(tmp_path / "events.parquet")
    want = duckdb.sql(
        f"SELECT a.event_id AS first_id, b.event_id AS later_id"
        f" FROM read_parquet('{path}') a JOIN read_parquet('{path}') b"
        f" ON a.user_id = b.user_id AND a.ts < b.ts"
    ).df()
    assert len(want) > 0
    assert not compare(got, want)


def test_event_ts_unit_does_not_change_values(spark, sf_dir, tmp_path):
    t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    i = t.column_names.index("ts")
    dirs = {}
    for unit in ("us", "ns"):
        d = tmp_path / unit
        d.mkdir()
        path = str(d / "events.parquet")
        pq.write_table(t.set_column(i, "ts", t["ts"].cast(pa.timestamp(unit))), path)
        assert pq.read_schema(path).field("ts").type == pa.timestamp(unit)
        dirs[unit] = str(d)

    def ts_rows(unit):
        df = read_table(spark, dirs[unit], "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        return sorted(df.select("event_id", "ts").collect())

    first = {u: ts_rows(u) for u in dirs}
    again = {u: ts_rows(u) for u in dirs}
    assert len(first["us"]) == t.num_rows
    assert first["us"] == first["ns"] == again["us"] == again["ns"]
