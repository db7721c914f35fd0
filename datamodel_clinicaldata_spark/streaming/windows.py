"""Event-time window operators — Structured Streaming's unified model.

Every transform here is written against the *unbounded-table* semantics:
the same function runs on a batch ``DataFrame`` (driver oracle checks,
``queries_streaming``) and on a ``readStream`` DataFrame (watermarked
incremental execution, ``tests/test_streaming.py``). That is the Spark-first
translation of the reference's batch-only event table (``weights`` is
morally an append stream of timestamped weigh-ins — SURVEY.md §2.7): one
declaration, two execution modes.

Scale notes:
- Tumbling/sliding aggregation is a partial-agg + single shuffle on
  (window, keys) — map-side combine keeps the shuffle proportional to the
  number of open windows, not events.
- ``session_window`` merges in the state store keyed by (user, session);
  the watermark bounds state size — without it a 100 TB stream would
  accumulate state forever.
- Sliding windows replicate each row ``window/slide`` times *logically*;
  Spark expands them at the aggregation input, so slide ratios should stay
  small (ours is 2×).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the events parquet — the streaming twin of
    ``sources.readers.read_table(..., 'events')``.

    Streaming sources need an explicit schema, and the testdata's ``ts``
    physical type is not stable across generations (TIMESTAMP(NANOS) in
    some drops, TIMESTAMP(MICROS)-NTZ in others). Hardcoding either is a
    silent ×1000 timestamp shift (or a watermark type error) when the data
    flips, so the schema is the parquet footer's (``footer_schema``: one
    inference job per path per session, shared with ``read_table``) and
    ``ts`` is normalized by the same type-dispatched rule as
    ``read_table``. The nanosAsLong conf is set here, not assumed from a
    prior batch read, and stays set — the stream is lazy and the scan
    consults the conf at (re)execution time."""
    import os

    from datamodel_clinicaldata_spark.sources.readers import _normalize_event_ts, footer_schema

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = footer_schema(spark, os.path.join(sf_dir, "events.parquet"))
    df = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return _normalize_event_ts(df, "ts")


def with_watermark(df: DataFrame, delay: str = "1 hour") -> DataFrame:
    """Late-data bound on ``ts``: batch frames pass through unchanged
    (watermarks are a streaming-state concept); streaming frames get state
    eviction + late-row drop beyond ``delay``."""
    return df.withWatermark("ts", delay) if df.isStreaming else df


def tumbling_event_counts(df: DataFrame) -> DataFrame:
    """1-hour tumbling-window event count + ``value`` sum per
    ``event_type``. One shuffle on (window, event_type); partial
    aggregation map-side."""
    return (
        df.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_event_avg(df: DataFrame) -> DataFrame:
    """Sliding (hopping) window average per ``event_type``: 2-hour windows
    every hour, so each event lands in two windows. The average is
    rounded from the RAW sum (never from the already-rounded total: a
    4-dp total divided by a small count lands exactly on half-ties —
    409.53/8 = 51.19125 — where JVM shortest-repr HALF_UP and DuckDB
    binary rounding disagree)."""
    return (
        df.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
            F.round(F.sum("value") / F.count(F.lit(1)), 4).alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
            "avg_value",
        )
    )


def session_windows(df: DataFrame) -> DataFrame:
    """Per-user session windows: events closer than 6 hours merge into one
    session; the session ends 6 hours after its last event
    (``F.session_window`` semantics — the batch SQL twin reproduces them
    with gaps-and-islands: lag → boundary flag → running sum → group)."""
    return (
        df.groupBy(F.session_window("ts", "6 hours").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("user_id"),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def dedup_events_stream(df: DataFrame) -> DataFrame:
    """Streaming exactly-once dedup: drop re-deliveries of the same
    ``event_id``.

    On a stream, ``dropDuplicatesWithinWatermark`` keeps key state only
    until the watermark passes — bounded state for unbounded input (plain
    ``dropDuplicates`` on a stream accumulates every key forever). On a
    batch frame the same call degenerates to ordinary dropDuplicates
    semantics. This is the ingestion-side dedup of a training-data
    pipeline (at-least-once delivery → exactly-once downstream); the
    content-level dedup family lives in ``operators.dedup``.
    """
    if df.isStreaming:
        return df.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
            ["event_id"]
        )
    return df.dropDuplicates(["event_id"])


def click_purchase_join(events: DataFrame, how: str = "inner") -> DataFrame:
    """Stream-stream event-time interval join: each purchase matched to
    every click by the same user in the preceding 30 minutes
    (attribution join).

    Unified-model transform: on batch frames this is a plain range join;
    on streaming frames Spark keeps BOTH sides in the state store and the
    interval condition + the callers' watermarks bound how long a click
    waits for a purchase (without the time bound, stream-stream join state
    grows forever — the interval predicate is the state-eviction contract,
    not just a filter).

    ``how="left"`` preserves unattributed clicks with NULL purchase
    columns. Streaming caveat (inherent to the model, not this code): a
    left-outer NULL row can only emit once the watermark has passed the
    click's join window — it is the watermark that PROVES no matching
    purchase can still arrive — so the NULL rows of the final in-flight
    window stay in state until a later micro-batch advances the
    watermark. Batch execution has no such delay; the matched subset is
    identical in both modes (pinned in tests/test_streaming.py).

    Scale notes: the join shuffles on user_id; the interval condition is
    evaluated post-match per user partition. Clicks and purchases are
    pre-filtered by event_type before the shuffle, so state holds only the
    two relevant event slices.
    """
    c = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return c.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 minutes")),
        how,
    ).select(
        "click_id", "purchase_id", "user_id", "click_ts", "purchase_ts", "purchase_value"
    )


def enrich_events_dim(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join: every event decorated with its
    dimension row (``user_id`` → customer attributes by ``c_custkey``).
    The missing streaming shape next to windows/dedup/stream-stream
    join — at ingest, events are enriched against a slowly-changing
    dimension before landing.

    Unified-model transform: on a batch frame it is a plain broadcast
    left join; on a streaming frame Spark re-plans the static side per
    micro-batch (so a refreshed dim table is picked up) and the join is
    STATELESS — no watermark, no state store, because the static side is
    fully available every batch. Dimension broadcast: at 100 TB the fact
    stream never shuffles for this join; only the dim (bounded) ships.
    Left join keeps unmatched events (late dim arrival must not drop
    facts — the standard ingest contract)."""
    return events.join(
        F.broadcast(dim), F.col("user_id") == F.col("c_custkey"), "left"
    ).drop("c_custkey")


# HLL sketch of ``windowed_distinct_sketch``: distinct user_id per
# 6-hour window with 2^12 registers, on the batch and the streaming face.
_USERS_SKETCH = "hll_sketch_estimate(hll_sketch_agg(user_id, 12))"


def windowed_distinct_sketch(df: DataFrame) -> DataFrame:
    """Per-6-hour-tumbling-window distinct-``user_id`` cardinality as a
    Datasketches HLL (``hll_sketch_agg``) next to the exact count — the
    windowed-cardinality shape streaming needs at 100 TB: the sketch is
    a mergeable aggregate, so state per window is one 2^12-register
    sketch instead of a distinct-keys set, and late data folds in with a
    sketch union. The exact count rides along for the batch face's
    oracle check; a stream drops it (count_distinct is unsupported in
    streaming aggregation — exactly why the sketch is the scale path).
    Output: (window_start, exact_users, est_users)."""
    return (
        df.groupBy(F.window("ts", "6 hours").alias("w"))
        .agg(
            F.count_distinct("user_id").cast("long").alias("exact_users"),
            F.expr(_USERS_SKETCH).cast("long").alias("est_users"),
        )
        .select(F.col("w.start").alias("window_start"), "exact_users", "est_users")
    )


def windowed_distinct_sketch_stream(df: DataFrame) -> DataFrame:
    """The streaming face of ``windowed_distinct_sketch``: sketch only
    (no exact count — count_distinct is not a streaming aggregate)."""
    return (
        df.groupBy(F.window("ts", "6 hours").alias("w"))
        .agg(
            F.expr(_USERS_SKETCH).cast("long").alias("est_users"),
        )
        .select(F.col("w.start").alias("window_start"), "est_users")
    )
