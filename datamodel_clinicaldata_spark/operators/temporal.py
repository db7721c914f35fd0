"""Temporal-table operators — validity-interval histories (SCD type 2)
and snapshot upserts (SCD type 1), the warehouse maintenance shapes a
mutable-entity table needs when the engine's storage is append-only
parquet (no transactional MERGE INTO here by design — these are the
declarative equivalents that AQE/Catalyst optimize like any other plan).

Scale notes: both operators shuffle once on the entity key; SCD2 is a
single window pass (lead over the per-key timeline), and the upsert is a
full-outer join that AQE converts to broadcast when either snapshot side
is small. No state, no driver loops — each run is a pure function of its
two inputs, so it can be replayed idempotently over any partition range.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def scd2_history(events: DataFrame) -> DataFrame:
    """Validity intervals from an event stream: each (``value``,
    ``event_type``) observation is valid from its own ``ts`` until the
    ``user_id``'s next observation (``valid_to`` NULL = current row). Ties
    on (user_id, ts) are broken by the value columns so the interval chain
    is deterministic."""
    order = [
        F.col("ts").asc(),
        F.col("value").asc_nulls_last(),
        F.col("event_type").asc_nulls_last(),
    ]
    w = Window.partitionBy("user_id").orderBy(*order)
    return events.select(
        "user_id",
        "value",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        (F.lead("ts").over(w).isNull()).alias("is_current"),
    )


def upsert_snapshot(
    target: DataFrame,
    source: DataFrame,
    key_col: str,
) -> DataFrame:
    """SCD1 merge: source rows replace target rows on key match, unmatched
    rows from both sides survive (the MERGE INTO ... WHEN MATCHED UPDATE
    WHEN NOT MATCHED INSERT shape as a full-outer join + per-column
    coalesce, source side winning)."""
    cols = [c for c in target.columns if c != key_col]
    s = source.select(
        F.col(key_col),
        *[F.col(c).alias(f"__s_{c}") for c in cols],
        F.lit(True).alias("__from_source"),
    )
    joined = target.join(s, key_col, "full_outer")
    picked = [
        F.when(F.col("__from_source"), F.col(f"__s_{c}")).otherwise(F.col(c)).alias(c)
        for c in cols
    ]
    return joined.select(key_col, *picked)
