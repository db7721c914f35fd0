"""Sequence packing — assigning documents to fixed-token-budget training
shards/bins. Two strategies:

- ``quota_chunk_bins``: streaming cumulative-sum chunking. Bin boundary =
  every time the running token count crosses a multiple of the budget.
  Pure window arithmetic (one shuffle on the partition key, whole-stage
  codegen), exactly SQL-expressible — so it carries the DuckDB oracle.
  Bins may overflow by at most one document; that is the documented
  contract (it is the strategy GPU-side packers use when the stream order
  is fixed).
- ``greedy_pack_bins``: classic greedy reset packing (open a new bin when
  adding the next doc would exceed the budget). Needs running *resettable*
  state, which no SQL window frame expresses — implemented per-group with
  ``applyInPandas`` (Arrow-batched; one shuffle on the group key, then
  O(group) python per group). Its oracle replays the fold as a recursive
  CTE.

Scale notes: both shapes shuffle ONLY (key, doc_id, n_tokens) — never the
text payload; bin assignment joins back to the corpus by doc_id if the
caller needs payloads. Group key choice (``source``) bounds the state any
single task holds; at 100 TB the per-source stream is further split by
date-partition so no group exceeds one task's memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# Token-length bucket bounds, padded tokens per batch and shards per
# bucket of ``length_bucket_batches``.
_BUCKET_BOUNDS = (64, 128, 256, 512)
_TOKEN_BUDGET = 4096
_N_SHARDS = 8


def quota_chunk_bins(df: DataFrame, budget: int) -> DataFrame:
    """bin_id = floor(exclusive-cumsum(n_tokens) / budget) per ``source``,
    in deterministic ``doc_id`` order."""
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return df.select(
        "doc_id",
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.floor((cum - F.col("n_tokens")) / F.lit(budget)).cast("long").alias("bin_id"),
    )


def greedy_pack_bins(df: DataFrame, budget: int) -> DataFrame:
    """Greedy reset packing per ``source``: bins are filled in ``doc_id``
    order; a document whose ``n_tokens`` would overflow the current bin
    opens the next one. Every bin except possibly one-doc oversized bins
    holds ≤ budget tokens.
    """
    import pandas as pd

    out_schema = "doc_id long, source string, n_tokens long, bin_id long"

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins, filled, cur = [], 0, 0
        for size in pdf["n_tokens"]:
            if filled > 0 and filled + size > budget:
                cur += 1
                filled = 0
            filled += int(size)
            bins.append(cur)
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "source": pdf["source"],
                "n_tokens": pdf["n_tokens"].astype("int64"),
                "bin_id": pd.Series(bins, dtype="int64"),
            }
        )

    slim = df.select("doc_id", "source", F.col("n_tokens").cast("long").alias("n_tokens"))
    return slim.groupBy("source").applyInPandas(pack, schema=out_schema)


def length_bucket_batches(df: DataFrame) -> DataFrame:
    """Length-bucketed batching: group documents of similar token length
    into fixed-count batches so per-batch padding (to the longest member)
    wastes the least compute — the dynamic-batching strategy of every
    sequence trainer. Bucket b spans [_BUCKET_BOUNDS[b-1], _BUCKET_BOUNDS[b])
    of ``n_tokens``; its batch size is ``_TOKEN_BUDGET / upper_bound``
    (longer sequences → smaller batches → roughly constant padded tokens
    per batch).

    Scale shape: batch formation needs a sequential row_number within a
    bucket, so each bucket is first split into ``_N_SHARDS`` deterministic
    shards (``doc_id % _N_SHARDS``) and batches form within (bucket, shard) —
    parallelism = buckets × shards instead of a serial scan per bucket,
    the standard sharded-batching layout. One shuffle, carrying only
    (id, n_tokens); per-batch stats aggregate on the same partitioning.
    """
    ups = list(_BUCKET_BOUNDS) + [None]  # last bucket open-ended
    bucket = F.lit(len(_BUCKET_BOUNDS)).cast("long")
    for b in range(len(_BUCKET_BOUNDS) - 1, -1, -1):
        bucket = F.when(
            F.col("n_tokens") < _BUCKET_BOUNDS[b], F.lit(b).cast("long")
        ).otherwise(bucket)
    # batch size per bucket: budget over the bucket's padding target (its
    # upper bound; the open tail bucket uses 2x the last boundary)
    bsize = F.lit(max(1, _TOKEN_BUDGET // (_BUCKET_BOUNDS[-1] * 2))).cast("long")
    for b in range(len(_BUCKET_BOUNDS) - 1, -1, -1):
        bsize = F.when(
            F.col("bucket_id") == b, F.lit(max(1, _TOKEN_BUDGET // ups[b])).cast("long")
        ).otherwise(bsize)

    slim = df.select(
        F.col("doc_id"), F.col("n_tokens").cast("long").alias("n_tokens")
    ).withColumn("bucket_id", bucket).withColumn(
        "shard", (F.col("doc_id") % _N_SHARDS).cast("long")
    )
    w = Window.partitionBy("bucket_id", "shard").orderBy(
        F.col("n_tokens").asc(), F.col("doc_id").asc()
    )
    assigned = (
        slim.withColumn("__rn", F.row_number().over(w))
        .withColumn("__bsize", bsize)
        # integer division end-to-end (advice r5): double-divide-then-
        # truncate is only exact below 2^53 and drags a float into an
        # otherwise integer pipeline; `div` matches the oracle's `//`.
        .withColumn("batch_idx", F.expr("CAST(__rn - 1 AS BIGINT) div __bsize"))
        .drop("__bsize")
    )
    return assigned.groupBy("bucket_id", "shard", "batch_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        F.max("n_tokens").cast("long").alias("max_tokens"),
        (F.max("n_tokens") * F.count(F.lit(1))).cast("long").alias("padded_tokens"),
    )
