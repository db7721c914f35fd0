"""Custom stateful streaming operator — ``applyInPandasWithState``.

The one place the engine's streaming surface needs per-group imperative
state that windowed aggregation can't express: a per-user *running*
profile (event count, cumulative value, exponentially-weighted moving
average of ``value``) that updates per micro-batch and survives between
batches in the state store. This is the pattern slot for "custom stateful
operators" (SURVEY.md §7.6); on a cluster the state lives in the
checkpointed state store, partitioned by the group key — no driver state.

Arrow-batched (pandas) transfer — the Python hop happens once per group
per micro-batch, not per row.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)

EWMA_ALPHA = 0.1


def _fold_profile(
    pdf: pd.DataFrame, n: int, total: float, ewma: float | None
) -> tuple[int, float, float | None]:
    """Fold one chunk of a user's events (sorted by (ts, event_id) when
    event_id is present — a deterministic total order even under tied
    timestamps and nondeterministic shuffle-fetch row order) into the
    running (count, sum, EWMA) profile. Shared by the streaming state
    update and the batch twin so both surfaces execute the same fold."""
    sort_cols = ["ts", "event_id"] if "event_id" in pdf.columns else ["ts"]
    pdf = pdf.sort_values(sort_cols, kind="mergesort")
    n += len(pdf)
    total += float(pdf["value"].sum())
    if len(pdf):
        # pandas ewm(adjust=False) IS the fold's recurrence
        # s_t = α·v_t + (1-α)·s_{t-1} executed in C; prior cross-chunk
        # state is carried by seeding the series with it (the recurrence
        # treats s_0 as the first "value", which is exactly how the
        # Python-loop fold initialized). ~100× faster than the per-row
        # loop on large groups, same values within one ulp per step.
        vals = pdf["value"].astype(float)
        series = vals if ewma is None else pd.concat([pd.Series([ewma]), vals])
        ewma = float(series.ewm(alpha=EWMA_ALPHA, adjust=False).mean().iloc[-1])
    return n, total, ewma


def _update_user_profile(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Fold this micro-batch's rows for one user into the running state and
    emit the updated profile. Rows are EWMA-folded in ``ts`` order so the
    result is deterministic regardless of Arrow batch boundaries."""
    if state.exists:
        n, total, ewma = state.get
    else:
        n, total, ewma = 0, 0.0, None
    # Concatenate ALL of this micro-batch's Arrow chunks before folding:
    # a group larger than arrow.maxRecordsPerBatch arrives as several
    # pdfs in nondeterministic shuffle-fetch order, so folding per chunk
    # would apply the (ts, event_id) total order only WITHIN chunks and
    # the cross-chunk EWMA order would be arbitrary. One concat + one
    # sort restores the claimed total order for any group size (the
    # batch twin sees the whole group in a single pdf either way).
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        n, total, ewma = _fold_profile(
            pd.concat(chunks, ignore_index=True), n, total, ewma
        )
    state.update((n, total, ewma))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [total],
            "ewma": [ewma],
        }
    )


def running_user_profile(events: DataFrame) -> DataFrame:
    """Streaming per-user running profile. ``events`` must be a streaming
    DataFrame with (user_id, ts, value); output emits one row per user per
    micro-batch with the post-batch state (update mode)."""
    return (
        events.select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_profile,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def batch_user_profile(events: DataFrame) -> DataFrame:
    """Batch twin of ``running_user_profile`` — the SAME fold
    (``_fold_profile``) over each user's complete history via
    ``applyInPandas``, so the driver's value-level oracle gate exercises
    the stateful operator's arithmetic, not a lookalike reimplementation.

    Scale: one shuffle on user_id; the Python hop is Arrow-batched, one
    call per user — the grouped state pattern's batch cost model. The
    EWMA is inherently sequential per user (each step depends on the
    previous), so a window expression can't express the fold itself; the
    closed-form expansion exists (see the registered oracle) but is the
    *check*, not the operator."""
    import pandas as pd  # noqa: F811 — local so the module stays importable without a session

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        n, total, ewma = _fold_profile(pdf, 0, 0.0, None)
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_events": [n],
                "total_value": [total],
                "ewma": [ewma],
            }
        )

    # Explicit width on the grouping exchange: AQE's bytes-based
    # coalescing sees a few MB of shuffle data and would squeeze the
    # stage to 1-2 tasks, but the cost here is per-GROUP Python/Arrow
    # overhead, not bytes — a user-specified repartition is exempt from
    # coalescing and keeps all cores on the fold. Same single shuffle:
    # groupBy reuses the hash partitioning on user_id.
    spark = events.sparkSession
    return (
        events.select("user_id", "event_id", "ts", "value")
        .repartition(spark.sparkContext.defaultParallelism, "user_id")
        .groupBy("user_id")
        .applyInPandas(fold, OUTPUT_SCHEMA)
    )
