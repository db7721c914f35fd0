"""Structured Streaming execution tests: the unified window transforms
run under ``readStream`` (memory sink, availableNow trigger) and must
produce the same results as their batch execution; the stateful
``applyInPandasWithState`` operator maintains per-user running state
across micro-batches."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from datamodel_clinicaldata_spark.sources.readers import read_table
from datamodel_clinicaldata_spark.streaming.stateful import (
    EWMA_ALPHA,
    running_user_profile,
)
from datamodel_clinicaldata_spark.streaming.windows import (
    session_windows,
    stream_events,
    tumbling_event_counts,
    with_watermark,
)


def _run_stream(df, name, tmp_path, output_mode):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", os.path.join(str(tmp_path), name))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def _norm(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_tumbling_stream_equals_batch(spark, sf_dir, tmp_path):
    streaming = tumbling_event_counts(with_watermark(stream_events(spark, sf_dir)))
    _run_stream(streaming, "tumbling_counts", tmp_path, "complete")
    got = spark.sql("SELECT * FROM tumbling_counts")
    want = tumbling_event_counts(read_table(spark, sf_dir, "events"))
    cols = ["window_start", "event_type", "n_events", "total_value"]
    assert _norm(got, cols) == _norm(want, cols)


def test_session_stream_equals_batch(spark, sf_dir, tmp_path):
    streaming = session_windows(with_watermark(stream_events(spark, sf_dir)))
    _run_stream(streaming, "session_counts", tmp_path, "complete")
    got = spark.sql("SELECT * FROM session_counts")
    want = session_windows(read_table(spark, sf_dir, "events"))
    cols = ["user_id", "session_start", "session_end", "n_events", "total_value"]
    assert _norm(got, cols) == _norm(want, cols)


def test_watermark_is_applied(spark, sf_dir):
    wm = with_watermark(stream_events(spark, sf_dir), delay="1 hour")
    assert wm.isStreaming
    assert "watermark" in wm._jdf.queryExecution().analyzed().toString().lower()
    # batch frames pass through untouched
    batch = read_table(spark, sf_dir, "events")
    assert with_watermark(batch) is batch


def test_running_user_profile_state(spark, sf_dir, tmp_path):
    """Stateful per-user profile: final counts/totals must equal the batch
    aggregate; EWMA must equal a pandas replay in ts order."""
    stream = running_user_profile(stream_events(spark, sf_dir))
    _run_stream(stream, "user_profiles", tmp_path, "update")
    # update mode can emit a user several times (once per micro-batch);
    # the LAST emission per user carries the final state.
    got = (
        spark.sql("SELECT * FROM user_profiles")
        .toPandas()
        .groupby("user_id")
        .last()
    )
    events = (
        read_table(spark, sf_dir, "events")
        .select("user_id", "ts", "value")
        .toPandas()
        .sort_values(["user_id", "ts"])
    )
    want = events.groupby("user_id").agg(n=("value", "size"), total=("value", "sum"))
    assert len(got) == len(want)
    merged = got.join(want)
    assert (merged["n_events"] == merged["n"]).all()
    assert merged["total_value"].values == pytest.approx(merged["total"].values)

    # EWMA spot-check on the 3 busiest users
    for uid in want.sort_values("n", ascending=False).head(3).index:
        vals = events[events.user_id == uid]["value"].tolist()
        ewma = vals[0]
        for v in vals[1:]:
            ewma = EWMA_ALPHA * v + (1 - EWMA_ALPHA) * ewma
        assert got.loc[uid, "ewma"] == pytest.approx(ewma)


def test_streaming_dedup_drops_redeliveries(spark, sf_dir, tmp_path):
    """Re-delivered event_ids are dropped with bounded (watermarked) state;
    output matches batch per-key dedup."""
    from datamodel_clinicaldata_spark.streaming.windows import dedup_events_stream

    raw = stream_events(spark, sf_dir)
    # simulate at-least-once delivery: every event arrives twice
    doubled = raw.unionByName(raw)
    deduped = dedup_events_stream(doubled)
    _run_stream(deduped.select("event_id"), "dedup_rows", tmp_path, "append")
    got = spark.sql(
        "SELECT count(*) AS n, count(DISTINCT event_id) AS n_ids FROM dedup_rows"
    ).first()
    want = read_table(spark, sf_dir, "events").count()
    assert got["n"] == got["n_ids"] == want


def test_stream_stream_join_equals_batch(spark, sf_dir, tmp_path):
    """The attribution interval join under readStream (watermarks on both
    sides, append mode) equals its batch execution."""
    from datamodel_clinicaldata_spark.streaming.windows import click_purchase_join

    ev = stream_events(spark, sf_dir)
    streaming = click_purchase_join(with_watermark(ev, delay="2 hours"))
    _run_stream(streaming, "cp_join", tmp_path, "append")
    got = spark.sql("SELECT * FROM cp_join")
    want = click_purchase_join(read_table(spark, sf_dir, "events"))
    cols = ["click_id", "purchase_id", "user_id", "purchase_value"]
    assert _norm(got, cols) == _norm(want, cols)


def test_batch_user_profile_equals_streaming_final(spark, sf_dir, tmp_path):
    """The applyInPandas batch twin and the applyInPandasWithState stream
    must land on identical final per-user profiles — same fold, two
    execution modes (single-batch stream ⇒ final update == full fold)."""
    from datamodel_clinicaldata_spark.streaming.stateful import batch_user_profile

    stream = running_user_profile(stream_events(spark, sf_dir))
    _run_stream(stream, "profile_final", tmp_path, "update")
    got = spark.sql(
        "SELECT user_id, n_events, round(total_value, 6) tv, round(ewma, 6) e FROM profile_final"
    )
    want = batch_user_profile(read_table(spark, sf_dir, "events")).selectExpr(
        "user_id", "n_events", "round(total_value, 6) tv", "round(ewma, 6) e"
    )
    cols = ["user_id", "n_events", "tv", "e"]
    assert _norm(got, cols) == _norm(want, cols)


def test_stream_static_enrich_equals_batch(spark, sf_dir, tmp_path):
    """The stream-static enrichment join runs stateless under readStream
    (static dim re-planned per micro-batch, no watermark required) and its
    rolled-up result matches the batch execution of the same transform."""
    from datamodel_clinicaldata_spark.streaming.windows import enrich_events_dim

    dim = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")

    def rollup(events):
        return (
            enrich_events_dim(events, dim)
            .groupBy(F.col("c_nationkey").alias("nation"), "event_type")
            .agg(
                F.count("*").cast("long").alias("n_events"),
                F.round(F.sum("value"), 4).alias("total_value"),
            )
        )

    streaming = rollup(stream_events(spark, sf_dir))
    _run_stream(streaming, "enrich_static", tmp_path, "complete")
    got = spark.sql("SELECT * FROM enrich_static")
    want = rollup(read_table(spark, sf_dir, "events"))
    cols = ["nation", "event_type", "n_events", "total_value"]
    assert _norm(got, cols) == _norm(want, cols)


def test_stream_stream_left_join_matched_subset(spark, sf_dir, tmp_path):
    """The LEFT OUTER interval join under readStream: its matched rows
    equal the inner join's, and everything it emits is a subset of the
    batch left join. (The NULL rows of the final in-flight window are
    withheld until a later micro-batch advances the watermark — inherent
    to streaming outer joins, so exact batch≡stream equality holds only
    for the matched subset.)"""
    from datamodel_clinicaldata_spark.streaming.windows import click_purchase_join

    ev = stream_events(spark, sf_dir)
    streaming = click_purchase_join(with_watermark(ev, delay="2 hours"), how="left")
    _run_stream(streaming, "cp_left", tmp_path, "append")
    got = spark.sql("SELECT * FROM cp_left")
    cols = ["click_id", "purchase_id", "user_id", "purchase_value"]
    batch_left = click_purchase_join(read_table(spark, sf_dir, "events"), how="left")
    batch_inner = click_purchase_join(read_table(spark, sf_dir, "events"))
    got_matched = _norm(got.filter(F.col("purchase_id").isNotNull()), cols)
    assert got_matched == _norm(batch_inner, cols)
    assert set(_norm(got, cols)) <= set(_norm(batch_left, cols))


def test_stream_cms_build_equals_batch(spark, sf_dir, tmp_path):
    """The count-min sketch build is a plain streaming aggregation
    (groupBy hash_row/bucket → count, update mode): its final counters
    equal the batch build over the same events — sketches are
    ingest-time-maintainable, not batch-only."""
    from datamodel_clinicaldata_spark.operators.sketches import cms_build

    ev = stream_events(spark, sf_dir).select(
        F.col("event_type").alias("item")
    )
    _run_stream(cms_build(ev, "item"), "cms_stream", tmp_path, "update")
    got = spark.sql(
        "SELECT hash_row, bucket, max(counter) AS counter FROM cms_stream "
        "GROUP BY hash_row, bucket"
    )
    want = cms_build(
        read_table(spark, sf_dir, "events").select(
            F.col("event_type").alias("item")
        ),
        "item",
    )
    cols = ["hash_row", "bucket", "counter"]
    assert _norm(got, cols) == _norm(want, cols)


def test_stream_exact_dedup_screen(spark, sf_dir, tmp_path):
    """Ingest-time dedup: the readStream digest screen over the incoming
    drop equals the batch twin row-for-row, and agrees with the full
    batch pipeline's exact_dup verdicts (the near-dup stage is explicitly
    deferred to the batch compactor — 'pending_near_screen')."""
    from datamodel_clinicaldata_spark.streaming.dedup import (
        corpus_digest_index,
        exact_screen,
        stream_documents,
    )

    idx = corpus_digest_index(spark, sf_dir)
    streamed = exact_screen(stream_documents(spark, sf_dir), idx)
    assert streamed.isStreaming
    q = (
        streamed.writeStream.format("memory")
        .queryName("dedup_screen")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("dedup_screen")

    import os

    from pyspark.sql import functions as F

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    batch = exact_screen(d.filter(F.col("doc_id") % 5 == 4), idx)
    assert got.exceptAll(batch).isEmpty() and batch.exceptAll(got).isEmpty()

    # cross-check against the full batch pipeline's exact verdicts
    from datamodel_clinicaldata_spark.registry import QUERIES

    full = QUERIES["dedup_incremental_against_corpus"](spark, sf_dir)
    exact_ids_full = {
        r["doc_id"] for r in full.filter(F.col("status") == "exact_dup").collect()
    }
    exact_ids_stream = {
        r["doc_id"] for r in got.filter(F.col("status") == "exact_dup").collect()
    }
    assert exact_ids_stream == exact_ids_full


def test_foreachbatch_partitioned_sink(spark, sf_dir, tmp_path):
    """The foreachBatch production sink: stream → date-partitioned
    parquet, byte-complete vs the batch source, partition directories
    laid out date-first for pruning."""
    import glob

    from pyspark.sql import functions as F

    from datamodel_clinicaldata_spark.streaming.sinks import (
        with_event_date,
        write_stream_partitioned_parquet,
    )
    from datamodel_clinicaldata_spark.streaming.windows import stream_events

    out = str(tmp_path / "out")
    q = write_stream_partitioned_parquet(
        with_event_date(stream_events(spark, sf_dir)).select(
            "event_id", "user_id", "event_type", "value", "event_date"
        ),
        out,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    src = spark.read.parquet(sf_dir + "/events.parquet")
    assert got.count() == src.count()
    assert got.select(F.sum("event_id")).collect()[0][0] == src.select(
        F.sum("event_id")
    ).collect()[0][0]
    # date-first physical layout exists on disk
    assert glob.glob(out + "/batch_id=*/event_date=*/*.parquet")


def test_python_datasource_stream_reader(spark, tmp_path):
    """The custom source's streaming face: offset-managed micro-batches
    drain the generator into a memory sink; the union of all batches
    equals a batch read of the same row range (same per-row generator)."""
    from pyspark.sql import functions as F

    from datamodel_clinicaldata_spark.sources.pydatasource import (
        SyntheticEventsDataSource,
    )

    spark.dataSource.register(SyntheticEventsDataSource)
    stream = (
        spark.readStream.format("synthetic_events")
        .option("rows", 600)
        .option("batch_rows", 250)
        .option("partitions", 3)
        .option("seed", 9)
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("synth_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    import time

    deadline = time.time() + 120
    while time.time() < deadline:
        if spark.table("synth_stream").count() >= 600:
            break
        time.sleep(1)
    q.stop()
    got = spark.table("synth_stream")
    assert got.count() == 600
    batch = (
        spark.read.format("synthetic_events")
        .option("rows", 600)
        .option("partitions", 3)
        .option("seed", 9)
        .load()
    )
    assert got.exceptAll(batch).isEmpty() and batch.exceptAll(got).isEmpty()


def test_synthetic_stream_reader_restart_never_reemits():
    """Restart-safety (advice r7-medium): a reader restored from a
    checkpoint starts with _latest = 0 while the engine replans from its
    committed offset. The cursor must seed from the engine-supplied
    offsets so the offset sequence never regresses past a committed
    point — a regressing cursor would eventually re-emit committed rows
    and break exactly-once. Simulated engine lifecycle, no Spark job."""
    from datamodel_clinicaldata_spark.sources.pydatasource import (
        SyntheticEventsStreamReader,
    )

    opts = {"batch_rows": 100, "rows": 1000, "partitions": 2}

    # pre-restart session: three committed batches → offset 300
    r1 = SyntheticEventsStreamReader(opts)
    for _ in range(3):
        end = r1.latestOffset()
    assert end == {"row": 300}
    r1.commit(end)

    # restart: fresh instance, engine replans from committed offset 300
    r2 = SyntheticEventsStreamReader(opts)
    stale_end = r2.latestOffset()  # naive cursor: 100 < committed 300
    parts = r2.partitions({"row": 300}, stale_end)
    emitted = [
        i for p in parts for i in range(p.start, p.end)
    ]
    assert emitted == []  # regressed window must emit nothing
    # the cursor must now have caught up: every subsequent offset
    # advances PAST the committed point, never back into [0, 300)
    nxt = r2.latestOffset()
    assert nxt["row"] > 300
    parts = r2.partitions({"row": 300}, nxt)
    emitted = sorted(i for p in parts for i in range(p.start, p.end))
    assert emitted[0] == 300  # resumes exactly at the committed offset
    assert emitted[-1] == nxt["row"] - 1

    # commit-side seeding alone must also protect a reader that never
    # planned the stale window (engine committed, then polled)
    r3 = SyntheticEventsStreamReader(opts)
    r3.commit({"row": 500})
    assert r3.latestOffset()["row"] > 500


def test_windowed_distinct_sketch_stream_equals_batch(spark, sf_dir, tmp_path):
    """The sketch-only streaming face must produce the identical
    per-window HLL estimates as a batch run of the same aggregate
    (the sketch is deterministic for a given input set)."""
    from datamodel_clinicaldata_spark.sources.readers import read_table
    from datamodel_clinicaldata_spark.streaming.windows import (
        stream_events,
        windowed_distinct_sketch,
        windowed_distinct_sketch_stream,
        with_watermark,
    )

    streaming = windowed_distinct_sketch_stream(
        with_watermark(stream_events(spark, sf_dir))
    )
    _run_stream(streaming, "windowed_hll", tmp_path, "complete")
    got = spark.sql("SELECT * FROM windowed_hll")
    want = windowed_distinct_sketch(read_table(spark, sf_dir, "events")).select(
        "window_start", "est_users"
    )
    cols = ["window_start", "est_users"]
    assert _norm(got, cols) == _norm(want, cols)
