"""The persisted cohort model: one build per (input snapshot, cohort column,
``strict_w8``) serves every filter draw, and the registry never serves a
stale, evicted or cleared model."""

from __future__ import annotations

import csv
import os
import shutil
import sys
import threading

import duckdb
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from datamodel_clinicaldata_spark.pipeline import (
    MAX_MODELS,
    clinical_standins_from_testdata,
    cohort_model,
    data_pipeline,
    run_cohort_pipeline,
)
from datamodel_clinicaldata_spark.plans.audit import physical_plan
from datamodel_clinicaldata_spark.queries_clinical import _flagship_oracle
from datamodel_clinicaldata_spark.sources.readers import load_clinical_tables
from tools.oracle_check import compare


def _outside_cache(plan: str) -> list[str]:
    """Plan lines not under an ``InMemoryRelation`` (tree depth read from
    the position of each line's operator name)."""
    out, depth = [], None
    for line in plan.splitlines():
        indent = len(line) - len(line.lstrip(" :+-"))
        if depth is not None and indent > depth:
            continue
        depth = None
        if "InMemoryRelation" in line:
            depth = indent
            continue
        out.append(line)
    return out


def _standin_query(spark, sf_dir, **kw):
    kw = {"min_age": 15, "max_age": 74, "clinic_id": None, **kw}
    return run_cohort_pipeline(*clinical_standins_from_testdata(spark, sf_dir), **kw)


def test_new_draw_filters_the_persisted_model(spark, sf_dir, duck):
    _standin_query(spark, sf_dir, cohort="week").collect()
    q = _standin_query(
        spark, sf_dir, cohort="week", gender="MACHINERY", min_age=16, max_age=58, clinic_id=19
    )
    plan = physical_plan(q)
    assert "InMemoryTableScan" in plan
    outside = "\n".join(_outside_cache(plan))
    for op in ("Window [", "Exchange", "Sort [", "HashAggregate"):
        assert op not in outside, f"{op!r} outside the cached model:\n{outside}"
    got = q.toPandas()
    assert len(got) > 0
    where = " AND Age BETWEEN 16 AND 58 AND Gender = 'MACHINERY' AND ClinicID = 19"
    assert not compare(got, duck.sql(_flagship_oracle("week", where)).df())


def test_standins_are_reused_until_a_table_is_rewritten(spark, sf_dir, tmp_path):
    d = str(tmp_path)
    tables = ("customer", "events", "orders")
    for name in tables:
        shutil.copy(os.path.join(sf_dir, f"{name}.parquet"), d)
    first = clinical_standins_from_testdata(spark, d)
    again = clinical_standins_from_testdata(spark, d)
    assert all(a is b for a, b in zip(first, again))
    _standin_query(spark, d, cohort="week").collect()

    path = os.path.join(d, "events.parquet")
    t = pq.read_table(path)
    i = t.column_names.index("value")
    pq.write_table(t.set_column(i, "value", pc.add(t["value"], 10.0)), path)
    rewritten = clinical_standins_from_testdata(spark, d)
    assert not any(a is b for a, b in zip(first, rewritten))

    con = duckdb.connect()
    for name in tables:
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{os.path.join(d, name)}.parquet')")
    got = _standin_query(spark, d, cohort="week").toPandas()
    want = con.sql(_flagship_oracle("week")).df()
    con.close()
    assert not compare(got, want)


def test_input_rewritten_in_place_is_not_served_stale(spark, clinical_dir, tmp_path):
    d = str(tmp_path / "clinical")
    shutil.copytree(clinical_dir, d)
    before = data_pipeline(spark, d).toPandas()
    path = os.path.join(d, "weights.csv")
    with open(path, newline="") as fh:
        rows = list(csv.DictReader(fh))
    for r in rows:
        r["Weight"] = f"{float(r['Weight']) + 10:.1f}"
    with open(path, "w", newline="") as fh:
        w = csv.DictWriter(fh, fieldnames=list(rows[0]))
        w.writeheader()
        w.writerows(rows)
    after = data_pipeline(spark, d).toPandas()
    spark.catalog.clearCache()
    assert not compare(after, data_pipeline(spark, d).toPandas())
    assert after["Weight"].max() == pytest.approx(before["Weight"].max() + 10)


def test_least_recently_used_model_is_evicted(spark, clinical_dir):
    t = load_clinical_tables(spark, clinical_dir)

    def users(i):
        return t["users"].where(F.col("Age") != 1000 + i)

    spark.catalog.clearCache()
    expected = run_cohort_pipeline(users(0), t["weights"], t["treatments"]).toPandas()
    first = cohort_model(users(0), t["weights"], t["treatments"])
    for i in range(1, MAX_MODELS + 1):
        cohort_model(users(i), t["weights"], t["treatments"])
    assert first.storageLevel == StorageLevel.NONE
    again = run_cohort_pipeline(users(0), t["weights"], t["treatments"])
    assert not compare(again.toPandas(), expected)
    rebuilt = cohort_model(users(0), t["weights"], t["treatments"])
    assert rebuilt is not first
    assert rebuilt.storageLevel != StorageLevel.NONE


def test_clear_cache_drops_the_model(spark, clinical_dir):
    t = load_clinical_tables(spark, clinical_dir)
    model = cohort_model(t["users"], t["weights"], t["treatments"])
    assert cohort_model(t["users"], t["weights"], t["treatments"]) is model
    spark.catalog.clearCache()
    assert model.storageLevel == StorageLevel.NONE
    again = cohort_model(t["users"], t["weights"], t["treatments"])
    assert again is not model
    assert again.storageLevel != StorageLevel.NONE


def test_strict_w8_is_a_separate_model(spark, clinical_dir):
    t = load_clinical_tables(spark, clinical_dir)
    inputs = (t["users"], t["weights"], t["treatments"])
    expected = {}
    for flag in (True, False):
        spark.catalog.clearCache()
        expected[flag] = run_cohort_pipeline(*inputs, strict_w8=flag).toPandas()
    assert compare(expected[True], expected[False])
    strict = cohort_model(*inputs, strict_w8=True)
    clean = cohort_model(*inputs)
    assert strict is not clean
    for flag in (True, False):
        got = run_cohort_pipeline(*inputs, strict_w8=flag).toPandas()
        assert not compare(got, expected[flag]), f"strict_w8={flag}"
    assert strict.storageLevel != StorageLevel.NONE
    assert clean.storageLevel != StorageLevel.NONE


def test_concurrent_callers_share_one_model(spark, clinical_dir):
    """More threads than cores ask for the same model at once: exactly one
    build happens and every caller gets that one frame."""
    t = load_clinical_tables(spark, clinical_dir)
    inputs = (t["users"].where(F.col("Age") != 2000), t["weights"], t["treatments"])
    got, errors = [], []

    def call():
        try:
            got.append(cohort_model(*inputs, cohort="month"))
        except Exception as e:  # noqa: BLE001 — reported by the assert below
            errors.append(e)

    threads = [threading.Thread(target=call) for _ in range(2 * (os.cpu_count() or 4))]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors
    assert len(got) == len(threads)
    assert all(frame is got[0] for frame in got)
