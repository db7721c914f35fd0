"""Streaming sinks — the ``foreachBatch`` production pattern.

``writeStream.foreachBatch`` is how a stream reaches sinks the streaming
engine has no native writer for (partitioned parquet with dynamic
overwrite, upserts into a keyed table, multi-sink fan-out): each
micro-batch arrives as a BATCH DataFrame plus a monotonically increasing
``batch_id``, and the function body uses the full batch API. Exactly-once
comes from idempotence: the checkpoint replays a batch after a crash with
the SAME batch_id, so the body must make re-running batch N harmless —
here by routing every write through a deterministic per-batch directory
(overwriting a half-written attempt instead of appending beside it).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_stream_partitioned_parquet(
    stream_df: DataFrame, out_dir: str, checkpoint_dir: str
):
    """Stream → ``event_date``-partitioned parquet via idempotent
    foreachBatch, over every input available at the start.

    Each micro-batch writes ``out_dir/batch_id=N/<partition dirs>/`` with
    mode=overwrite: a replayed batch N simply rewrites its own directory
    (exactly-once through idempotence), readers see the union via
    ``spark.read.parquet(out_dir)`` with ``batch_id`` as one more
    partition column to prune on (date first, per SCALING.md layout
    doctrine; ``with_event_date`` derives the column)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(os.path.join(out_dir, f"batch_id={batch_id}"))
        )

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def with_event_date(df: DataFrame) -> DataFrame:
    """The standard partition column: event date derived from the event
    timestamp ``ts`` (time-first layout — SCALING.md Storage layout)."""
    return df.withColumn("event_date", F.col("ts").cast("date"))
