"""CSV round-trip driver query — the reference's ACTUAL ingest path under
the two-engine oracle.

The other clinical queries drive the pipeline from parquet stand-ins; this
one exercises S1/S2 ingest end-to-end (``pandas_DataModel.py:51-53`` /
``polars_DataModel.py:52-55``): deterministic clinical CSVs are generated
once into the repo (seeded ``fixtures.generate_clinical_csvs``), read back
through BOTH reader shapes — typed-at-load (polars S2) and string-dates +
explicit P3 cast (pandas S1) — run through the full cohort pipeline, and
union-distinct'd. The union equals either branch iff the two ingest paths
agree row-for-row, so a divergence flips the driver row red via row count.
The DuckDB oracle replays ingest (``read_csv`` with the same pinned
schema) and the whole metric pipeline over the same files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datamodel_clinicaldata_spark.queries_clinical import cohort_oracle
from datamodel_clinicaldata_spark.registry import register
from datamodel_clinicaldata_spark.schemas import CLINICAL_SCHEMAS

# Inside the repo (driver-visible, .gitignore'd); generated at import so the
# oracle SQL can run even if DuckDB goes first.
_FIXTURE_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".fixtures", "clinical_csv")


def _ensure_fixtures() -> str:
    if not all(
        os.path.exists(os.path.join(_FIXTURE_DIR, f"{t}.csv"))
        for t in ("users", "weights", "treatments")
    ):
        from datamodel_clinicaldata_spark.fixtures import generate_clinical_csvs

        generate_clinical_csvs(_FIXTURE_DIR)
    return _FIXTURE_DIR


_ensure_fixtures()


def _duck_type(dt: T.DataType) -> str:
    return {
        T.StringType(): "VARCHAR",
        T.LongType(): "BIGINT",
        T.DoubleType(): "DOUBLE",
        T.TimestampType(): "TIMESTAMP",
        T.BooleanType(): "BOOLEAN",
    }[dt]


def _read_csv_sql(table: str) -> str:
    """DuckDB ``read_csv`` with the same pinned schema Spark uses — no
    sniffing, '' -> NULL under the typed cast, bit-identical doubles."""
    cols = ", ".join(
        f"'{f.name}': '{_duck_type(f.dataType)}'" for f in CLINICAL_SCHEMAS[table].fields
    )
    path = os.path.join(_FIXTURE_DIR, f"{table}.csv")
    return f"read_csv('{path}', header=true, columns={{{cols}}})"


_CSV_ORACLE = cohort_oracle(
    f"""u AS (SELECT * FROM {_read_csv_sql('users')}),
w AS (SELECT * FROM {_read_csv_sql('weights')}),
t AS (SELECT * FROM {_read_csv_sql('treatments')}),
joined AS (
  SELECT u.UID, u.Name, u.LastName, u.Gender, u.Unit, u.Birthday, u.Age,
         u.Height, u.CreatedDate AS UIDCreatedDate, u.IsActive AS UIDIsActive,
         u.ClinicID, u.loginId, u.success,
         w.Weight, w.BMI, w.BodyFat, w.BodyWater, w.Bone, w.VisceralFat,
         w.BMR, w.MuscleMass, w.CreatedDate AS Wts_CreatedDate,
         w.UpdatedDate AS Wts_UpdatedDate, w.IsActive AS Wts_IsActive,
         w.IsDelete,
         t.TreatmentTypeID, t.StartDate AS Tmt_StartDate
  FROM u
  LEFT JOIN w ON u.UID = w.MasterUserID
  LEFT JOIN t ON u.UID = t.MasterUserID
)""",
    "week",
    "Age BETWEEN 18 AND 72 AND ClinicID = 5066",
)


@register("clinical_csv_roundtrip", _CSV_ORACLE)
def clinical_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S2 CSV ingest → full cohort pipeline, both reader shapes.

    ``sf_dir`` is unused (the point is the reference's own CSV inputs, not
    the parquet testdata); fixtures are deterministic, so the result is
    stable across sessions. The typed (polars S2) branch uses the pipeline
    verbatim; the untyped (pandas S1) branch reads dates as strings and
    applies the explicit P3 cast stage, then both run the identical metric
    pipeline — the union-distinct equals either branch only when the two
    ingest paths produce byte-identical frames.
    """
    from datamodel_clinicaldata_spark.operators.relational import cast_timestamps
    from datamodel_clinicaldata_spark.pipeline import data_pipeline, run_cohort_pipeline
    from datamodel_clinicaldata_spark.sources.readers import read_clinical_csv

    path = _ensure_fixtures()
    typed = data_pipeline(spark, path)  # S2: dates typed at load

    def read_untyped(table: str) -> DataFrame:
        """S1: dates read as strings, then the explicit P3 cast stage."""
        ts = [
            f.name
            for f in CLINICAL_SCHEMAS[table].fields
            if isinstance(f.dataType, T.TimestampType)
        ]
        return cast_timestamps(read_clinical_csv(spark, path, table, typed_dates=False), ts)

    untyped = run_cohort_pipeline(
        read_untyped("users"), read_untyped("weights"), read_untyped("treatments")
    )
    return typed.unionByName(untyped).dropDuplicates()


def _roundtrip_dir(tag: str, sf_dir: str) -> str:
    """Stable temp output path for a sink round-trip query: keyed by an
    md5 of the input dir, NOT Python's salted ``hash`` — the salt changes
    every interpreter run (PYTHONHASHSEED), so the old scheme wrote a
    fresh full copy per run and never reclaimed any: unbounded /tmp
    growth and a name that wasn't the stable identifier it implied. A
    deterministic digest makes re-runs overwrite the same directory (the
    writers use mode("overwrite")), bounding disk use to one copy per
    (query, input-dir)."""
    import hashlib
    import tempfile

    digest = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"spark_graft_{tag}_{digest}")


@register(
    "jsonl_roundtrip_documents",
    """
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM documents GROUP BY lang
    """,
)
def jsonl_roundtrip_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL sink + source round trip under the value-level gate: the
    documents table is written to line-delimited JSON and read back with
    the explicit-schema reader (``sources.readers.read_jsonl`` — no
    inference pass), then aggregated per language with byte-exact content
    measures (octet length survives JSON string escaping unchanged). The
    oracle computes the same aggregate straight from parquet, so any
    loss/corruption in either direction of the JSON hop flips the hash."""
    from datamodel_clinicaldata_spark.sources.readers import read_jsonl, read_table

    out = _roundtrip_dir("jsonl_docs", sf_dir)
    read_table(spark, sf_dir, "documents").write.mode("overwrite").json(out)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    back = read_jsonl(spark, out, schema)
    return back.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum(F.octet_length("text")).cast("long").alias("total_bytes"),
        F.min("doc_id").cast("long").alias("min_doc"),
        F.max("doc_id").cast("long").alias("max_doc"),
    )


@register(
    "orc_roundtrip_lineitem",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(l_extendedprice), 4) AS sum_price,
           round(sum(l_quantity), 4) AS sum_qty
    FROM lineitem
    WHERE l_orderkey % 100 = 0
    GROUP BY 1, 2
    """,
)
def orc_roundtrip_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source round trip: a keyed slice of lineitem is written
    to ORC and read back (``sources.readers.read_orc``), then aggregated
    with the module float policy. Doubles round-trip bit-exactly through
    ORC, so the oracle (same aggregate from parquet) hash-matches iff the
    format hop is lossless."""
    from datamodel_clinicaldata_spark.sources.readers import read_orc, read_table

    out = _roundtrip_dir("orc_li", sf_dir)
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 100 == 0
    ).select("l_orderkey", "l_returnflag", "l_linestatus", "l_extendedprice", "l_quantity")
    li.write.mode("overwrite").orc(out)
    back = read_orc(spark, out)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
    )
