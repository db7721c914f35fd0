"""Parquet table reads: the footer schema is inferred once per path per
session and reused until the file changes; ``events.ts`` reads the same
whichever timestamp unit the file stores."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

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
    assert again.schema == first.schema
    assert again.count() == first.count()
    # Another session's conf shapes inference, so it infers for itself.
    other = spark.newSession()
    _, n_other = _jobs(other, lambda: read_table(other, str(tmp_path), "customer"))
    assert n_other >= 1


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
