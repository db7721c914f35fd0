"""Sinks — the write side of the engine (reference surface S3/S4 plus the
storage layouts a 100 TB deployment actually needs).

The reference's only "sinks" are stdout and a returned frame
(``pandas_DataModel.py:156-161``); at scale the result of a pipeline is a
TABLE LAYOUT decision:

- ``write_partitioned``: hive-style directory partitioning on
  low-cardinality keys (date / clinic) → partition PRUNING at read time:
  a filter on the partition key skips whole directories, the dominant
  I/O saver for time-range queries.
- ``write_bucketed``: hash-bucketed + sorted table on the join key →
  co-located, shuffle-free joins between tables bucketed the same way
  (verified by plan test: the bucketed join has ZERO exchanges).
- ``write_parquet``: the plain sink.

Every sink overwrites its target.

Bucketing requires ``saveAsTable`` (bucket metadata lives in the
catalog); the session uses a local warehouse dir for tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


# Bucket count of ``write_bucketed``: two tables join without a shuffle
# only when both carry the same count.
NUM_BUCKETS = 8
# Rows per output file of ``compact_small_files``.
TARGET_ROWS_PER_FILE = 1000
# Output file count of ``write_zordered``.
ZORDER_FILES = 16


def write_parquet(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def write_partitioned(df: DataFrame, path: str, partition_by: list[str]) -> None:
    """Directory-partitioned parquet. Partition columns should be
    low-cardinality (a date bucket, a clinic id) — one directory per
    value; high-cardinality keys belong in bucketing instead."""
    df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)


def write_bucketed(df: DataFrame, table: str, bucket_by: str, sort_by: str) -> None:
    """Hash-bucketed, sorted managed table. Two tables bucketed by the
    same key with the same bucket count join WITHOUT a shuffle — the
    scan's output partitioning already satisfies the join's clustering
    requirement."""
    (
        df.write.mode("overwrite")
        .bucketBy(NUM_BUCKETS, bucket_by)
        .sortBy(sort_by)
        .format("parquet")
        .saveAsTable(table)
    )


def write_jsonl(df: DataFrame, path: str) -> None:
    """Newline-delimited JSON — the lingua franca of training-data
    interchange (one document object per line; Spark writes one .json
    part-file per partition, splittable and append-friendly). Binary
    columns are base64-encoded by Spark's JSON writer; timestamps are
    ISO-8601."""
    df.write.mode("overwrite").json(path)


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink (built into Spark): columnar alternative to parquet with
    the same pushdown/pruning story; useful when the downstream consumer
    is Hive/Trino-standardized on ORC."""
    df.write.mode("overwrite").orc(path)


def write_sorted_parquet(
    df: DataFrame, path: str, sort_cols: list[str], n_files: int | None = None
) -> None:
    """Layout-aware sink: range-partition + sort by ``sort_cols`` before
    writing. Parquet footers then carry NON-OVERLAPPING min/max ranges per
    file/row-group, so a later filter on the sort key skips whole files
    (the poor-man's Z-order for a single-key access path; at 100 TB this
    is the difference between scanning a partition and scanning a
    terabyte). ``repartitionByRange`` samples the key distribution, so
    skew produces balanced files anyway."""
    out = (
        df.repartitionByRange(n_files, *sort_cols)
        if n_files
        else df.repartitionByRange(*sort_cols)
    )
    out.sortWithinPartitions(*sort_cols).write.mode("overwrite").parquet(path)


def compact_small_files(df: DataFrame, path: str) -> None:
    """Small-file compaction: coalesce a fragmented dataset into
    ~target-row files (row count stands in for bytes on these fixtures; a
    production deployment divides target file bytes by the measured
    row width). Small files are the classic death-by-metadata failure at
    scale — a 100 TB table in 10 MB files is 10M objects to list."""
    n = max(1, -(-df.count() // TARGET_ROWS_PER_FILE))
    df.repartition(n).write.mode("overwrite").parquet(path)


def write_zordered(
    df: DataFrame, path: str, cols: list[str], ranges: list[tuple[float, float]]
) -> None:
    """Multi-dimensional clustering sink: range-partition + sort by the
    Z-order key of ``cols`` (``operators.partitioning.zorder_key``), so a
    query filtering on ANY of the clustered dimensions skips files on
    parquet min/max footers — the layout move behind Delta/Iceberg
    OPTIMIZE ZORDER, built from primitives. Contrast
    ``write_sorted_parquet``: a lexicographic sort prunes only its
    leading column; Z-order prunes every clustered column at once
    (pinned quantitatively in tests/test_sinks.py)."""
    from datamodel_clinicaldata_spark.operators.partitioning import zorder_key

    (
        df.withColumn("__z", zorder_key(cols, ranges))
        .repartitionByRange(ZORDER_FILES, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
