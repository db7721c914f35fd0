"""Sinks — the write side of the engine (reference surface S3/S4 plus the
storage layouts a 100 TB deployment actually needs).

The reference's only "sinks" are stdout and a returned frame
(``pandas_DataModel.py:156-161``); at scale the result of a pipeline is a
TABLE LAYOUT decision:

- ``write_partitioned``: hive-style directory partitioning on
  low-cardinality keys (date / clinic) → partition PRUNING at read time:
  a filter on the partition key skips whole directories, the dominant
  I/O saver for time-range queries.
- ``write_sorted_parquet``: range-partitioned and sorted on a key, so
  each file's parquet footer covers its own key range and a filter on
  the key skips whole files.
- ``write_parquet`` and ``write_jsonl``: the plain sinks.

Every sink overwrites its target.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_parquet(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def write_partitioned(df: DataFrame, path: str, partition_by: list[str]) -> None:
    """Directory-partitioned parquet. Partition columns should be
    low-cardinality (a date bucket, a clinic id) — one directory per
    value; a high-cardinality key belongs in ``write_sorted_parquet``
    instead."""
    df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)


def write_jsonl(df: DataFrame, path: str) -> None:
    """Newline-delimited JSON — the lingua franca of training-data
    interchange (one document object per line; Spark writes one .json
    part-file per partition, splittable and append-friendly). Binary
    columns are base64-encoded by Spark's JSON writer; timestamps are
    ISO-8601."""
    df.write.mode("overwrite").json(path)


def write_sorted_parquet(
    df: DataFrame, path: str, sort_cols: list[str], n_files: int | None = None
) -> None:
    """Layout-aware sink: range-partition + sort by ``sort_cols`` before
    writing. Parquet footers then carry NON-OVERLAPPING min/max ranges per
    file/row-group, so a later filter on the sort key skips whole files
    (a single-key layout; at 100 TB this is the difference between
    scanning a partition and scanning a terabyte). ``repartitionByRange`` samples the key distribution, so
    skew produces balanced files anyway."""
    out = (
        df.repartitionByRange(n_files, *sort_cols)
        if n_files
        else df.repartitionByRange(*sort_cols)
    )
    out.sortWithinPartitions(*sort_cols).write.mode("overwrite").parquet(path)
