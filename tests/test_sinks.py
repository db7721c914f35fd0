"""Sink/layout tests: partitioned writes prune at read time, sorted writes
give files non-overlapping key ranges, salted joins reproduce plain-join
results."""

from __future__ import annotations

from pyspark.sql import functions as F

from datamodel_clinicaldata_spark.operators.joins import salted_join
from datamodel_clinicaldata_spark.sources.readers import read_table
from datamodel_clinicaldata_spark.sources.writers import write_partitioned


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    out = str(tmp_path / "orders_by_priority")
    o = read_table(spark, sf_dir, "orders")
    write_partitioned(o, out, ["o_orderpriority"])

    back = spark.read.parquet(out)
    assert back.count() == o.count()

    pruned = back.filter(F.col("o_orderpriority") == "1-URGENT")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # partition filter must hit the directory layout, not the row filter
    assert "PartitionFilters: [isnotnull(o_orderpriority" in plan
    want = o.filter(F.col("o_orderpriority") == "1-URGENT").count()
    assert pruned.count() == want


def test_salted_join_matches_plain(spark, sf_dir):
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    salted = salted_join(c, o, "c_custkey", "o_custkey", salt=4)
    plain = c.join(o, c["c_custkey"] == o["o_custkey"])
    cols = ["c_custkey", "o_orderkey"]
    assert sorted(tuple(r[k] for k in cols) for r in salted.collect()) == sorted(
        tuple(r[k] for k in cols) for r in plain.collect()
    )


def test_jsonl_roundtrip(spark, sf_dir, tmp_path):
    """documents → JSONL → read back with explicit schema == original."""
    from datamodel_clinicaldata_spark.sources.readers import read_jsonl, read_table
    from datamodel_clinicaldata_spark.sources.writers import write_jsonl

    d = read_table(spark, sf_dir, "documents")
    path = str(tmp_path / "docs_jsonl")
    write_jsonl(d, path)
    back = read_jsonl(spark, path, schema=d.schema)
    assert back.schema == d.schema
    a = {tuple(r) for r in d.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b


def test_orc_roundtrip_with_pushdown(spark, sf_dir, tmp_path):
    """orders → ORC → filtered read pushes the predicate to the ORC scan."""
    from datamodel_clinicaldata_spark.plans.audit import audit
    from datamodel_clinicaldata_spark.sources.readers import read_orc, read_table

    o = read_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_orc")
    o.write.orc(path)
    back = read_orc(spark, path).filter(F.col("o_totalprice") > 100000).select(
        "o_orderkey", "o_totalprice"
    )
    scan = audit(back).scan_for("orders_orc")
    assert any("o_totalprice" in f for f in scan["pushed_filters"])
    assert back.count() == o.filter(F.col("o_totalprice") > 100000).count()


def test_sorted_layout_enables_file_skipping(spark, sf_dir, tmp_path):
    """write_sorted_parquet produces non-overlapping per-file o_orderdate
    ranges (verified from the parquet footers via pyarrow) — the property
    that lets a key filter skip whole files."""
    import glob

    import pyarrow.parquet as pq

    from datamodel_clinicaldata_spark.sources.readers import read_table
    from datamodel_clinicaldata_spark.sources.writers import write_sorted_parquet

    o = read_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_sorted")
    write_sorted_parquet(o, path, ["o_orderdate"], n_files=4)

    ranges = []
    for f in glob.glob(path + "/*.parquet"):
        md = pq.ParquetFile(f).metadata
        col_idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "o_orderdate"
        )
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) >= 2
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, (hi1, lo2)  # files do not overlap on the sort key


def test_schema_evolution_merge(spark, sf_dir, tmp_path):
    """Appended data with an added column reads back via mergeSchema with
    nulls for pre-evolution rows — additive drift, the only kind a
    long-lived corpus layout should allow."""
    from datamodel_clinicaldata_spark.sources.readers import read_table

    path = str(tmp_path / "evolving")
    d = read_table(spark, sf_dir, "documents")
    d.select("doc_id", "text").write.mode("overwrite").parquet(path)
    d.select("doc_id", "text", "lang").limit(10).write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"doc_id", "text", "lang"}
    n = d.count()
    assert merged.count() == n + 10
    assert merged.filter(F.col("lang").isNull()).count() == n


def test_foreach_batch_sink(spark, sf_dir, tmp_path):
    """foreachBatch: the escape hatch for sinks Spark lacks natively —
    each micro-batch lands through a custom writer (here: partitioned
    parquet keyed by batch id, the idempotent-restart layout: a replayed
    batch overwrites its own directory instead of duplicating rows)."""
    import os

    from datamodel_clinicaldata_spark.streaming.windows import stream_events

    out = str(tmp_path / "batches")

    def write_batch(df, batch_id: int) -> None:
        df.write.mode("overwrite").parquet(os.path.join(out, f"batch={batch_id}"))

    q = (
        stream_events(spark, sf_dir)
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    from datamodel_clinicaldata_spark.sources.readers import read_table

    got = spark.read.parquet(out)
    assert got.count() == read_table(spark, sf_dir, "events").count()


def test_asof_nearest_direction_and_ties(spark):
    """nearest as-of: closer side wins, exact |Δt| tie goes backward,
    one-sided anchors fall back to the populated side."""
    import datetime as dt

    from datamodel_clinicaldata_spark.operators.joins import asof_join

    T0 = dt.datetime(2024, 1, 1)

    def ts(minutes):
        return T0 + dt.timedelta(minutes=minutes)

    left = spark.createDataFrame(
        [(1, ts(10), "closer_back"), (1, ts(20), "tie"), (1, ts(1), "only_fwd"),
         (2, ts(10), "no_events")],
        "k int, at timestamp, label string",
    )
    right = spark.createDataFrame(
        [(1, ts(9), 100), (1, ts(12), 200), (1, ts(25), 300), (1, ts(15), 400)],
        "k int, rts timestamp, rid int",
    )
    out = {
        r.label: (r.rid, r.rts)
        for r in asof_join(
            left, right, "k", "k", "at", "rts", ["rid"], direction="nearest"
        ).collect()
    }
    assert out["closer_back"][0] == 100          # Δ back 1 min < Δ fwd 2 min
    assert out["tie"][0] == 400                  # 15 vs 25: back Δ5 == fwd Δ5 → backward
    assert out["only_fwd"][0] == 100             # nothing at/before 1 min → forward
    assert "no_events" not in out                # inner drops unmatched keys


def test_asof_nearest_date_typed(spark):
    """nearest on DateType as-of columns: the numeric fallback can't cast
    dates to double, so the distance uses the exact day ordinal
    (unix_date) — previously this failed at plan time even though
    backward/forward handled dates fine."""
    import datetime as dt

    from datamodel_clinicaldata_spark.operators.joins import asof_join

    d = dt.date
    left = spark.createDataFrame(
        [(1, d(2024, 1, 10), "mid"), (1, d(2024, 1, 2), "early")],
        "k int, at date, label string",
    )
    right = spark.createDataFrame(
        [(1, d(2024, 1, 1), 10), (1, d(2024, 1, 13), 20)],
        "k int, rts date, rid int",
    )
    out = {
        r.label: r.rid
        for r in asof_join(
            left, right, "k", "k", "at", "rts", ["rid"], direction="nearest"
        ).collect()
    }
    assert out == {"mid": 20, "early": 10}  # Δ3 < Δ9; Δ1 < Δ11


def test_python_datasource_synthetic_events(spark):
    """The Spark 4 Python DataSource API: the synthetic-events source
    reads through the normal format() surface with partition-level
    parallelism, deterministically (same options → identical bytes),
    and splitting changes nothing."""
    from pyspark.sql import functions as F

    from datamodel_clinicaldata_spark.sources.pydatasource import (
        SyntheticEventsDataSource,
    )

    spark.dataSource.register(SyntheticEventsDataSource)
    rd = (
        spark.read.format("synthetic_events")
        .option("rows", 5000)
        .option("partitions", 8)
        .option("seed", 42)
    )
    df = rd.load()
    assert df.count() == 5000
    assert df.rdd.getNumPartitions() == 8
    s1 = df.agg(
        F.sum("event_id").alias("se"), F.sum("user_id").alias("su"),
        F.countDistinct("event_type").alias("t"),
    ).collect()[0]
    assert s1["se"] == 5000 * 4999 // 2 and s1["t"] == 5
    # re-read with a different partition count: identical content
    df2 = (
        spark.read.format("synthetic_events")
        .option("rows", 5000)
        .option("partitions", 3)
        .option("seed", 42)
        .load()
    )
    assert df.exceptAll(df2).isEmpty() and df2.exceptAll(df).isEmpty()


def test_synthetic_gen_vectorized_matches_scalar_recurrence():
    """The Arrow-vectorized generator must be BIT-identical to the scalar
    per-row LCG recurrence it replaced (uint64 wraparound == mod 2^64):
    fixtures generated at any scale stay stable across the change."""
    from datamodel_clinicaldata_spark.sources.pydatasource import (
        _EVENT_TYPES,
        _MIX,
        _gen_batches,
        _lcg,
    )

    lo, hi, seed, users = 123, 1123, 42, 97
    got = []
    for rb in _gen_batches(lo, hi, seed, users, batch=256):
        d = rb.to_pydict()
        got.extend(
            zip(d["event_id"], d["user_id"], d["event_type"], d["value"])
        )
    exp = []
    for i in range(lo, hi):
        s = _lcg(seed * _MIX + i)
        user = s % users
        s = _lcg(s)
        etype = _EVENT_TYPES[s % len(_EVENT_TYPES)]
        s = _lcg(s)
        exp.append((i, user, etype, (s % 1_000_000) / 1000.0))
    assert got == exp


def test_asof_tolerance_backward_forward(spark):
    """merge_asof-style tolerance: the pick survives iff its distance is
    within the bound; inner drops, left nulls. Equivalence with
    candidate pre-filtering holds because the pick is already the
    closest candidate on its side."""
    import datetime as dt

    from datamodel_clinicaldata_spark.operators.joins import asof_join

    T0 = dt.datetime(2024, 1, 1)

    def ts(minutes):
        return T0 + dt.timedelta(minutes=minutes)

    left = spark.createDataFrame(
        [(1, ts(10), "fresh"), (1, ts(100), "stale"), (1, ts(12), "edge")],
        "k int, at timestamp, label string",
    )
    right = spark.createDataFrame(
        [(1, ts(9), 100)], "k int, rts timestamp, rid int"
    )
    tol_us = 3 * 60 * 1_000_000  # 3 minutes
    inner = {
        r.label: r.rid
        for r in asof_join(
            left, right, "k", "k", "at", "rts", ["rid"], tolerance=tol_us
        ).collect()
    }
    assert inner == {"fresh": 100, "edge": 100}  # Δ1 and Δ3 (inclusive) pass
    lefted = {
        r.label: r.rid
        for r in asof_join(
            left, right, "k", "k", "at", "rts", ["rid"],
            how="left", tolerance=tol_us,
        ).collect()
    }
    assert lefted["stale"] is None and lefted["fresh"] == 100


def test_asof_tolerance_nearest_side_fallback(spark):
    """nearest + tolerance: an out-of-tolerance nearer side must NOT
    shadow an in-tolerance farther side — the bound applies per side
    before the closer-of-two choice."""
    import datetime as dt

    from datamodel_clinicaldata_spark.operators.joins import asof_join

    T0 = dt.datetime(2024, 1, 1)

    def ts(minutes):
        return T0 + dt.timedelta(minutes=minutes)

    left = spark.createDataFrame(
        [(1, ts(10), "anchor")], "k int, at timestamp, label string"
    )
    # backward match at Δ9 (closer), forward at Δ5 — with tol 6 the
    # backward side is out, forward must win even though... reversed:
    right = spark.createDataFrame(
        [(1, ts(1), 100), (1, ts(15), 200)], "k int, rts timestamp, rid int"
    )
    out = asof_join(
        left, right, "k", "k", "at", "rts", ["rid"],
        direction="nearest", tolerance=6 * 60 * 1_000_000,
    ).collect()
    assert len(out) == 1 and out[0].rid == 200  # back Δ9 out; fwd Δ5 in


def test_partitioned_write_forks_no_chmod(spark, tmp_path):
    """A local write sets its file modes without starting a process.
    Without the native Hadoop library, Hadoop's own local file system runs
    ``chmod`` for every directory and file it creates; the session's
    ``NioLocalFileSystem`` applies the same modes through java.nio. The
    layout and the modes are those Hadoop writes under its default umask
    022, and the JVM reaps no child CPU during the write."""
    import os
    import stat

    from datamodel_clinicaldata_spark.session import NIO_LOCAL_FS
    from tools.ab_time import reaped_child_cpu_s

    jvm = spark._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("fs.file.impl") == NIO_LOCAL_FS
    assert jvm.org.apache.hadoop.fs.FileSystem.getLocal(hconf).getClass().getName() == NIO_LOCAL_FS

    df = spark.range(0, 250, 1, 1).select(
        F.col("id"), (F.col("id") % 25).cast("int").alias("ClinicID")
    )
    out = str(tmp_path / "by_clinic")
    pid = jvm.java.lang.ProcessHandle.current().pid()
    before = reaped_child_cpu_s(pid)
    write_partitioned(df, out, ["ClinicID"])
    assert reaped_child_cpu_s(pid) - before == 0

    clinics = [f"ClinicID={i}" for i in range(25)]
    assert sorted(os.listdir(out)) == sorted(["_SUCCESS", "._SUCCESS.crc", *clinics])
    dirs = [out] + [os.path.join(out, c) for c in clinics]
    files = [os.path.join(out, "_SUCCESS"), os.path.join(out, "._SUCCESS.crc")]
    for d in dirs[1:]:
        names = os.listdir(d)
        data = [n for n in names if n.endswith(".parquet")]
        assert len(data) == 1 and sorted(names) == sorted(data + [f".{data[0]}.crc"])
        files += [os.path.join(d, n) for n in names]
    assert {oct(stat.S_IMODE(os.stat(d).st_mode)) for d in dirs} == {"0o755"}
    assert {oct(stat.S_IMODE(os.stat(f).st_mode)) for f in files} == {"0o644"}

    back = spark.read.parquet(out).select("id", "ClinicID")
    assert sorted(back.collect()) == sorted(df.collect())


def test_nio_local_fs_maps_every_mode_bit(spark, tmp_path):
    """``NioLocalFileSystem.setPermission`` sets exactly the requested
    bits on a file; a sticky directory (which java.nio cannot express)
    goes through Hadoop's own ``chmod`` and stays sticky."""
    import os
    import stat

    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext._jsc.hadoopConfiguration()
    )

    def set_mode(path: str, mode: int) -> int:
        perm = jvm.org.apache.hadoop.fs.permission.FsPermission(f"{mode:o}")
        fs.setPermission(jvm.org.apache.hadoop.fs.Path(path), perm)
        return stat.S_IMODE(os.stat(path).st_mode)

    f = str(tmp_path / "f")
    open(f, "w").close()
    for mode in (0o600, 0o644, 0o700, 0o755, 0o777):
        assert set_mode(f, mode) == mode
    d = str(tmp_path / "d")
    os.mkdir(d)
    assert set_mode(d, 0o1777) == 0o1777
