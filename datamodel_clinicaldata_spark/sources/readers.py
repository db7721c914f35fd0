"""Sources: CSV (reference parity, S1/S2) and parquet (driver testdata).

Reference behavior being reproduced (SURVEY.md §2.1):
- S1: ``pd.read_csv(path)`` ×3 — header row, inferred types
  (``pandas_DataModel.py:51-53``).
- S2: ``pl.read_csv(path, try_parse_dates=True)`` — dates typed at load
  (``polars_DataModel.py:52-55``).

Spark-first translation: one CSV reader with an explicit pinned
``StructType`` so dates are typed at load (the polars shape) without the
double scan ``inferSchema`` costs; the pandas late-cast path (P3) exists as
an operator in ``operators.relational`` for parity testing.

At 100 TB the real source is columnar parquet; every reader here returns a
lazy DataFrame so Catalyst can push filters and prune columns into the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datamodel_clinicaldata_spark.schemas import CLINICAL_SCHEMAS, TESTDATA_TABLES


def read_clinical_csv(
    spark: SparkSession, path_to_data: str, table: str, typed_dates: bool = True
) -> DataFrame:
    """Read one clinical CSV (``users``/``weights``/``treatments``).

    ``typed_dates=True`` mirrors polars' ``try_parse_dates=True`` (dates
    typed at load). ``typed_dates=False`` mirrors the pandas path: timestamp
    columns land as strings for the explicit P3 cast stage.
    """
    schema = CLINICAL_SCHEMAS[table]
    if not typed_dates:
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField(f.name, T.StringType() if isinstance(f.dataType, T.TimestampType) else f.dataType, f.nullable)
                for f in schema.fields
            ]
        )
    return spark.read.csv(
        os.path.join(path_to_data, f"{table}.csv"),
        header=True,
        schema=schema,
        timestampFormat="yyyy-MM-dd HH:mm:ss",
    )


def load_clinical_tables(
    spark: SparkSession, path_to_data: str, fmt: str = "csv"
) -> dict[str, DataFrame]:
    """Load the three clinical base tables (S1/S2 ×3)."""
    if fmt == "parquet":
        return {t: read_table(spark, path_to_data, t) for t in CLINICAL_SCHEMAS}
    return {t: read_clinical_csv(spark, path_to_data, t) for t in CLINICAL_SCHEMAS}


# Event-time columns in the driver testdata whose parquet physical type is
# not stable across testdata generations: TIMESTAMP(NANOS) in some drops
# (rejected by a vanilla session → read as long via nanosAsLong, ÷1000 to
# µs), TIMESTAMP(MICROS) without timezone in others (inferred as
# TIMESTAMP_NTZ → cast to session-tz TIMESTAMP, value-preserving under the
# engine's pinned UTC session and required for watermarks/window()).
_EVENT_TS_COLUMNS = {"events": ("ts",)}


def _normalize_event_ts(df: DataFrame, col: str) -> DataFrame:
    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):
        # Integer division — float division would lose ns precision
        # (2^53 < 1e18) and shift the resulting microsecond.
        return df.withColumn(col, F.expr(f"timestamp_micros(`{col}` div 1000)"))
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def file_listing(spark: SparkSession, paths: list[str]) -> tuple:
    """Every file under ``paths`` (files or directories) with its length and
    modification time, read through the Hadoop ``FileSystem``: the snapshot
    a memoized frame or a persisted model was built from."""
    conf = spark._jsc.hadoopConfiguration()
    hadoop_path = spark._jvm.org.apache.hadoop.fs.Path
    out = []
    for p in paths:
        path = hadoop_path(p)
        fs = path.getFileSystem(conf)
        todo = [fs.getFileStatus(path)]
        while todo:
            st = todo.pop()
            if st.isDirectory():
                todo.extend(fs.listStatus(st.getPath()))
            else:
                out.append((st.getPath().toString(), st.getLen(), st.getModificationTime()))
    return tuple(sorted(out))


# (session UUID, path) -> (file listing, schema Spark inferred from the
# footer, the frame ``read_table`` returns)
_FRAMES: dict[tuple[str, str], tuple[tuple, T.StructType, DataFrame]] = {}


def _resolved(spark: SparkSession, path: str) -> tuple[T.StructType, DataFrame]:
    """``path``'s footer schema and its table frame (``events.ts``
    normalized), resolved once per path per session and reused while the
    path's file listing is unchanged.

    Resolving infers the schema from the footer, which costs a job, and
    analyzes the relation; a hit does neither and returns the same frame
    object. A memo, not a pinned ``StructType``: a pinned schema over a
    file whose column was renamed reads silent nulls, and a pinned
    ``timestamp_ntz`` over a TIMESTAMP(NANOS) drop fails to read. The memo
    holds what the footer says now, under this session's conf
    (``nanosAsLong``, NTZ inference), so a new session or a rewritten file
    resolves again. Two racing first reads both resolve; either result
    reads the same rows."""
    key = (spark._jsparkSession.sessionUUID(), path)
    listing = file_listing(spark, [path])
    hit = _FRAMES.get(key)
    if hit is not None and hit[0] == listing:
        return hit[1], hit[2]
    df = spark.read.parquet(path)
    schema = df.schema
    for col in _EVENT_TS_COLUMNS.get(os.path.basename(path).removesuffix(".parquet"), ()):
        df = _normalize_event_ts(df, col)
    _FRAMES[key] = (listing, schema, df)
    return schema, df


def footer_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema Spark infers from ``path``'s parquet footer, before any
    ``events.ts`` normalization: what a streaming reader of the same file
    must pass to ``readStream.schema``. It comes from the frame memo
    ``read_table`` uses, so a path is inferred once per session either
    way."""
    return _resolved(spark, path)[0]


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata parquet table.

    A path is resolved once per session: later reads return the identical
    frame, with no schema-inference job and no new relation to analyze,
    until the file's length or modification time changes or the session is
    new. ``spark.catalog.clearCache()`` does not reset this; it only holds
    resolved plans, not data. Two reads of one table are one frame, so a
    self-join must alias each side (``df.alias("a").join(df.alias("b"),
    ...)``), as for any DataFrame joined with itself.

    Self-sufficient on ANY session (not just ``session.get_spark()``):
    TIMESTAMP(NANOS) testdata is rejected outright by a vanilla
    SparkSession (PARQUET_TYPE_ILLEGAL). The legacy conf below is
    runtime-settable and idempotent. It is set ONLY for tables listed in
    ``_EVENT_TS_COLUMNS`` — other reads never touch session state — and on
    every such read, a memo hit included. For those tables the conf does
    stay set on the session afterwards (deliberately: the returned
    DataFrame is lazy, and Spark may consult the conf again when the scan
    executes, so an eager set/restore could flip it back mid-plan); any
    later TIMESTAMP(NANOS) parquet read on the same session therefore also
    comes back as long.
    """
    if name in _EVENT_TS_COLUMNS:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _resolved(spark, os.path.join(sf_dir, f"{name}.parquet"))[1]


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for the SQL surface."""
    for t in TESTDATA_TABLES:
        read_table(spark, sf_dir, t).createOrReplaceTempView(t)


def read_jsonl(spark: SparkSession, path: str, schema) -> DataFrame:
    """JSONL source. The explicit schema skips the inference pass (which
    reads the whole dataset once — never acceptable at 100 TB) and pins
    types against drift."""
    return spark.read.schema(schema).json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source — same predicate-pushdown/column-pruning contract as
    parquet (pinned by the round-trip test)."""
    return spark.read.orc(path)
