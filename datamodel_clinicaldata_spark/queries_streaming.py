"""Event-time window queries over ``events`` — the batch face of the
unified streaming transforms (``streaming.windows``), each with a DuckDB
oracle twin.

The identical functions run under ``readStream`` with watermarks in
``tests/test_streaming.py``; registering their batch execution here gives
the driver a value-level correctness check on the window semantics
(tumbling bucketing, sliding replication, session gap merging).

Oracle notes: Spark aligns window starts to the epoch in multiples of the
slide — so does DuckDB ``time_bucket``; session windows are replayed in
SQL as gaps-and-islands with the same [start, last+6h) semantics
(boundary: a gap of exactly 6 hours starts a NEW session, hence ``>=``)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from datamodel_clinicaldata_spark.registry import register
from datamodel_clinicaldata_spark.sources.readers import read_table
from datamodel_clinicaldata_spark.streaming.windows import (
    dedup_events_stream,
    enrich_events_dim,
    session_windows,
    sliding_event_avg,
    tumbling_event_counts,
)


@register(
    "stream_enrich_static_dim",
    """
    SELECT c.c_nationkey AS nation, e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(e.value), 4) AS total_value
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def stream_enrich_static_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join, batch face: events decorated with
    the customer dimension (user_id → c_custkey), rolled up per
    (nation, event_type). ``enrich_events_dim`` is the unified transform
    — the same function runs under ``readStream`` in
    tests/test_streaming.py, where the static side re-plans per
    micro-batch and the join is stateless (no watermark, no state store).
    Sum is on 2-dp inputs so round(·,4) sits on exact grid points."""
    from pyspark.sql import functions as F

    e = read_table(spark, sf_dir, "events")
    dim = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    return (
        enrich_events_dim(e, dim)
        .groupBy(F.col("c_nationkey").alias("nation"), "event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


@register(
    "stream_dedup_events",
    """
    SELECT event_type,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_unique,
           CAST(min(event_id) AS BIGINT) AS min_id,
           CAST(max(event_id) AS BIGINT) AS max_id
    FROM events GROUP BY 1
    """,
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-side exactly-once dedup under the value gate: the events
    table UNIONed with itself simulates at-least-once redelivery (every
    event exactly twice), then ``dedup_events_stream`` drops the
    re-deliveries — on a stream via ``dropDuplicatesWithinWatermark``
    (bounded key state: kept only until the watermark passes), here via
    its batch degenerate form. Duplicates are exact copies, so any
    survivor row is identical and the aggregate is deterministic; the
    oracle is DISTINCT-by-key straight off the base table (redelivered
    copies must contribute nothing). The streaming execution of the same
    function is pinned in tests/test_streaming.py."""
    from pyspark.sql import functions as F

    e = read_table(spark, sf_dir, "events").select("event_id", "event_type", "ts")
    redelivered = e.unionByName(e)
    deduped = dedup_events_stream(redelivered)
    return deduped.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_unique"),
        F.min("event_id").cast("long").alias("min_id"),
        F.max("event_id").cast("long").alias("max_id"),
    )


@register(
    "stream_tumbling_counts",
    """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows × event_type: count + value sum."""
    return tumbling_event_counts(read_table(spark, sf_dir, "events"))


@register(
    "stream_sliding_avg",
    """
    WITH expanded AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) - k * INTERVAL 1 HOUR AS window_start,
             event_type, value
      FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k)
    )
    SELECT window_start, event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS total_value
    FROM expanded
    GROUP BY 1, 2
    """,
)
def stream_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hour windows sliding every hour: each event lands in 2 windows
    (the oracle replicates rows against both covering window starts).
    ``avg_value`` is excluded from the hashed projection: the input values
    have 2 decimals, so sum/count lands on exact 4-dp half-ties (e.g.
    473.47/8) where JVM shortest-repr HALF_UP and DuckDB binary rounding
    legitimately disagree — count+sum pin the window semantics; the
    average is a derived quotient."""
    return sliding_event_avg(read_table(spark, sf_dir, "events")).drop("avg_value")


@register(
    "stream_session_windows",
    """
    WITH o AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 6 HOUR
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 6 HOUR AS session_end,
           count(*) AS n_events,
           round(sum(value), 4) AS total_value
    FROM s
    GROUP BY user_id, sid
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 6-hour-gap session windows (F.session_window) vs the SQL
    gaps-and-islands replay."""
    return session_windows(read_table(spark, sf_dir, "events"))


@register(
    "rollup_time_cascade",
    """
    WITH base AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS h, event_type, value FROM events
    )
    SELECT 'hour' AS grain, h AS bucket_start, event_type,
           count(*) AS n_events, round(sum(value), 4) AS total_value
    FROM base GROUP BY h, event_type
    UNION ALL
    SELECT 'day', time_bucket(INTERVAL '1 day', h), event_type, count(*), round(sum(value), 4)
    FROM base GROUP BY time_bucket(INTERVAL '1 day', h), event_type
    UNION ALL
    SELECT 'all', TIMESTAMP '1970-01-01', event_type, count(*), round(sum(value), 4)
    FROM base GROUP BY event_type
    """,
)
def rollup_time_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity time rollup (hypertable-style continuous-aggregate
    cascade) in ONE pass: hour/day/total grains via grouping sets over
    derived buckets — a single Expand + aggregate instead of three scans.
    At 100 TB this is the pre-aggregation pattern: coarse grains answer
    dashboard queries without touching raw events."""
    from pyspark.sql import functions as F

    e = read_table(spark, sf_dir, "events")
    base = e.select(
        F.date_trunc("hour", "ts").alias("h"),
        F.date_trunc("day", "ts").alias("d"),
        "event_type",
        "value",
    )
    agg = base.groupingSets(
        [["h", "event_type"], ["d", "event_type"], ["event_type"]],
        "h", "d", "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
    grain = (
        F.when(F.col("h").isNotNull(), F.lit("hour"))
        .when(F.col("d").isNotNull(), F.lit("day"))
        .otherwise(F.lit("all"))
    )
    bucket = F.coalesce("h", "d", F.lit("1970-01-01").cast("timestamp"))
    return agg.select(
        grain.alias("grain"),
        bucket.alias("bucket_start"),
        "event_type",
        "n_events",
        "total_value",
    )


@register(
    "stream_click_purchase_join",
    """
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id, c.ts AS click_ts, p.ts AS purchase_ts,
           p.value AS purchase_value
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
)
def stream_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution interval join (batch execution of the stream-stream
    join; streaming twin exercised in tests/test_streaming.py)."""
    from datamodel_clinicaldata_spark.streaming.windows import click_purchase_join

    return click_purchase_join(read_table(spark, sf_dir, "events"))


@register(
    "stream_click_purchase_left",
    """
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id, c.ts AS click_ts, p.ts AS purchase_ts,
           p.value AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def stream_click_purchase_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER attribution join: every click, matched purchases where
    they exist, NULL purchase columns where they don't — the variant that
    measures UNattributed traffic. Streaming semantics note in
    ``streaming.windows.click_purchase_join``: outer NULLs emit only
    after the watermark proves no match can arrive; batch (this
    execution) has no such delay."""
    from datamodel_clinicaldata_spark.streaming.windows import click_purchase_join

    return click_purchase_join(read_table(spark, sf_dir, "events"), how="left")


@register(
    "timeseries_gapfill_interpolate",
    """
    WITH b AS (
      SELECT user_id AS key, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
             round(sum(value), 4) AS v, CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ), spine AS (
      SELECT key, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket_ts
      FROM (SELECT key, min(bucket_ts) AS lo, max(bucket_ts) AS hi
            FROM b GROUP BY key)
    ), j AS (
      SELECT s.key, s.bucket_ts, b.v, b.n_events
      FROM spine s LEFT JOIN b ON b.key = s.key AND b.bucket_ts = s.bucket_ts
    ), w AS (
      SELECT key, bucket_ts, v, n_events,
        last_value(v IGNORE NULLS) OVER (
          PARTITION BY key ORDER BY bucket_ts
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
        last_value(CASE WHEN v IS NOT NULL THEN bucket_ts END IGNORE NULLS)
          OVER (PARTITION BY key ORDER BY bucket_ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_t,
        first_value(v IGNORE NULLS) OVER (
          PARTITION BY key ORDER BY bucket_ts
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
        first_value(CASE WHEN v IS NOT NULL THEN bucket_ts END IGNORE NULLS)
          OVER (PARTITION BY key ORDER BY bucket_ts
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_t
      FROM j
    )
    SELECT key AS user_id, bucket_ts,
           coalesce(n_events, 0) AS n_events,
           CAST(floor(10000 * CASE
             WHEN v IS NOT NULL THEN v
             WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN
               prev_v + (next_v - prev_v) *
                 ((epoch(bucket_ts) - epoch(prev_t))
                   / (epoch(next_t) - epoch(prev_t)))
             WHEN prev_v IS NOT NULL THEN prev_v
             ELSE next_v END) AS BIGINT) AS value_fill_e4
    FROM w
    """,
)
def timeseries_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hourly rollup with gap filling + linear
    interpolation per user (see operators/timeseries.py for the
    fixed-point hashing rationale)."""
    from datamodel_clinicaldata_spark.operators.timeseries import time_bucket_gapfill

    return time_bucket_gapfill(read_table(spark, sf_dir, "events"))


@register(
    "stream_user_profile",
    """
    WITH ordered AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM events
    )
    SELECT user_id,
           CAST(max(n) AS BIGINT) AS n_events,
           round(sum(value), 4) AS total_value,
           round(sum(CASE WHEN rn = 1 THEN power(0.9, n - 1) * value
                          ELSE 0.1 * power(0.9, n - rn) * value END), 4)
             AS ewma
    FROM ordered GROUP BY user_id
    """,
)
def stream_user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator surface (``applyInPandasWithState``): the
    per-user running profile's batch twin runs the SAME ``_fold_profile``
    arithmetic the streaming state update executes per micro-batch
    (streaming mode pinned equal in tests/test_streaming.py). The oracle
    replays the sequential EWMA recurrence ewma' = α·v + (1-α)·ewma as
    its closed-form geometric expansion Σ α(1-α)^(n-i)·v_i (first term
    (1-α)^(n-1)·v_1 — the fold initializes with the first value), which
    is windowable SQL; the operator itself stays a genuine sequential
    fold. Rounding to 4 decimals absorbs the recurrence-vs-expansion
    float association difference (~1e-13 relative)."""
    from pyspark.sql import functions as F

    from datamodel_clinicaldata_spark.streaming.stateful import batch_user_profile

    return batch_user_profile(read_table(spark, sf_dir, "events")).select(
        "user_id",
        "n_events",
        F.round("total_value", 4).alias("total_value"),
        F.round("ewma", 4).alias("ewma"),
    )


@register(
    "dedup_idempotency_window",
    """
    SELECT user_id, event_type,
           time_bucket(INTERVAL '1 hour', ts) AS window_start,
           CAST(min(event_id) AS BIGINT) AS first_event_id,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def dedup_idempotency_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded dedup — the idempotency-window semantics of event
    ingestion: within each (user, event_type, hour) window the FIRST
    event is canonical and later arrivals are retries/replays to absorb;
    the same content re-appearing in a later window is legitimately new
    (unlike corpus-wide ``dedup_exact``, which would wrongly collapse
    it). One hash aggregation on the bounded window key; the streaming
    equivalent is ``dropDuplicates`` within a watermark
    (``stream_dedup_events``) — this is the batch/backfill twin with an
    explicit window."""
    from pyspark.sql import functions as F

    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            "user_id",
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
        )
        .agg(
            F.min("event_id").cast("long").alias("first_event_id"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )


@register(
    "diag_late_arrivals",
    """
    WITH o AS (
      SELECT event_type,
             greatest(CAST(max(epoch_us(ts)) OVER (ORDER BY event_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT)
                      - CAST(epoch_us(ts) AS BIGINT), 0) AS late_us
      FROM events
    )
    SELECT event_type,
           CASE WHEN late_us = 0 THEN '0_on_time'
                WHEN late_us < 60000000 THEN '1_lt_1m'
                WHEN late_us < 3600000000 THEN '2_lt_1h'
                ELSE '3_ge_1h' END AS lateness,
           CAST(count(*) AS BIGINT) AS n,
           CAST(max(late_us) AS BIGINT) AS max_late_us
    FROM o GROUP BY 1, 2
    """,
)
def diag_late_arrivals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data accounting — the empirical input to watermark sizing:
    treating arrival order as ``event_id``, each event's lateness is how
    far its event time lags the maximum event time already seen; the
    lateness histogram says what fraction of data a "10 minutes" vs
    "1 hour" watermark would drop. Exact integer microseconds against a
    running max in global arrival order, computed with the two-phase
    distributed prefix (``ranking.ordered_prefix`` running_max: range
    partitions carry local running maxes, broadcast per-partition maxes
    supply the carry-in) — max is order-insensitive, so the result is
    identical to a sequential scan without ever funnelling the event
    stream through one task (advice r5)."""
    from pyspark.sql import functions as F

    from datamodel_clinicaldata_spark.operators.ranking import ordered_prefix

    e = read_table(spark, sf_dir, "events")
    proj = e.select(
        "event_type", "event_id", F.unix_micros("ts").alias("__us")
    )
    # r13: counted-small adaptive path — A/B at sf0.1: 3.39 → 1.33 s
    # (OPTIMIZATION_r13.md); >2M events flip back to the two-phase prefix.
    run = ordered_prefix(
        proj,
        [F.col("event_id").asc()],
        running_max={"__us": "__run_max"},
        count_small=2_000_000,
    )
    late = F.greatest(F.col("__run_max") - F.col("__us"), F.lit(0))
    o = run.select("event_type", late.alias("late_us"))
    bucket = (
        F.when(F.col("late_us") == 0, "0_on_time")
        .when(F.col("late_us") < 60_000_000, "1_lt_1m")
        .when(F.col("late_us") < 3_600_000_000, "2_lt_1h")
        .otherwise("3_ge_1h")
    )
    return o.groupBy("event_type", bucket.alias("lateness")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("late_us").cast("long").alias("max_late_us"),
    )


@register(
    "stream_windowed_distinct_users",
    """
    SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS hll_ok
    FROM events
    GROUP BY 1
    """,
)
def stream_windowed_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed distinct-user cardinality via a mergeable HLL sketch
    (``streaming.windows.windowed_distinct_sketch``) — per-window state
    is one 2¹²-register sketch instead of a distinct-user set, which is
    what makes per-window cardinality viable in a stream (count_distinct
    is not a streaming aggregate) and cheap in a 100 TB rollup (sketches
    union across partitions/late data). Same oracle contract as the
    other sketch rows: the exact count plus an in-band accuracy boolean
    (|est − exact| ≤ 3·rsd·exact, rsd ≈ 1.04/√2¹²; the sketch is
    deterministic for a given input). The streaming execution of the
    sketch-only face is pinned in tests/test_streaming.py."""
    from pyspark.sql import functions as F

    from datamodel_clinicaldata_spark.streaming.windows import (
        windowed_distinct_sketch,
    )

    rsd = 3 * (1.04 / (2**12) ** 0.5)
    out = windowed_distinct_sketch(read_table(spark, sf_dir, "events"))
    return out.select(
        "window_start",
        "exact_users",
        (
            F.abs(F.col("est_users") - F.col("exact_users"))
            <= F.lit(rsd) * F.col("exact_users")
        ).alias("hll_ok"),
    )
