"""End-to-end pipeline tests on the generated clinical fixtures + the
reference's structural invariants (column counts, filter placement,
dedup asymmetry — SURVEY.md §1.2, §2.3, §2.9)."""

from __future__ import annotations

from pyspark.sql import functions as F

from datamodel_clinicaldata_spark.operators.relational import assemble_star, rename_columns
from datamodel_clinicaldata_spark.operators.windows import with_cohort_metrics
from datamodel_clinicaldata_spark.pipeline import data_pipeline, run_cohort_pipeline
from datamodel_clinicaldata_spark.sources.readers import load_clinical_tables


def test_output_is_34_columns(spark, clinical_dir):
    df = data_pipeline(spark, clinical_dir)
    # 27 merged columns + month week WIR PSW TSW treatment_TBWL patient_TBWL
    assert len(df.columns) == 34
    for c in ["month", "week", "WIR", "PSW", "TSW", "treatment_TBWL", "patient_TBWL"]:
        assert c in df.columns


def test_all_null_login_id_survives(spark, clinical_dir):
    df = data_pipeline(spark, clinical_dir)
    assert dict(df.dtypes)["loginId"] == "double"
    assert df.filter(F.col("loginId").isNotNull()).count() == 0


def test_filters_applied_after_metrics(spark, clinical_dir):
    """PSW must be computed over the UNFILTERED population: a user's first
    weigh-in defines PSW even when age-filtered variants run (filter
    placement, SURVEY.md §2.3 note)."""
    full = data_pipeline(spark, clinical_dir, min_age=18, max_age=72)
    narrow = data_pipeline(spark, clinical_dir, min_age=18, max_age=40)
    # Every (UID, PSW) pair in the narrow result must appear with identical
    # PSW in the full result — the metric didn't change under filtering.
    f = {r["UID"]: r["PSW"] for r in full.select("UID", "PSW").distinct().collect()}
    for r in narrow.select("UID", "PSW").distinct().collect():
        assert f[r["UID"]] == r["PSW"]


def test_gender_filter_and_boundaries(spark, clinical_dir):
    males = data_pipeline(spark, clinical_dir, gender="Male")
    assert males.filter(F.col("Gender") != "Male").count() == 0
    # inclusive BETWEEN: ages exactly 18 and 72 survive
    ages = {r["Age"] for r in data_pipeline(spark, clinical_dir).select("Age").distinct().collect()}
    assert 18 in ages and 72 in ages and 17 not in ages and 73 not in ages


def test_clinic_filter(spark, clinical_dir):
    df = data_pipeline(spark, clinical_dir, clinic_id=5067)
    vals = {r["ClinicID"] for r in df.select("ClinicID").distinct().collect()}
    assert vals <= {5067}


def test_final_distinct_removes_duplicate_rows(spark, clinical_dir):
    t = load_clinical_tables(spark, clinical_dir)
    before_distinct = with_cohort_metrics(
        rename_columns(assemble_star(t["users"], t["weights"], t["treatments"])),
        cohort="week",
    )
    # fixtures contain exact duplicate weigh-in rows (FIXTURES.md §4.9)
    assert before_distinct.count() > before_distinct.dropDuplicates().count()
    deduped = run_cohort_pipeline(
        t["users"], t["weights"], t["treatments"],
        cohort="week", gender="all", min_age=0, max_age=120, clinic_id=None,
    )
    assert deduped.count() == deduped.dropDuplicates().count()


def test_zero_weighin_users_survive_left_join(spark, clinical_dir):
    t = load_clinical_tables(spark, clinical_dir)
    df = run_cohort_pipeline(
        t["users"], t["weights"], t["treatments"],
        gender="all", min_age=0, max_age=120, clinic_id=None,
    )
    users_in = {r["UID"] for r in t["users"].select("UID").collect()}
    users_out = {r["UID"] for r in df.select("UID").distinct().collect()}
    assert users_in == users_out  # left-join preserves every user
    null_rows = df.filter(F.col("Weight").isNull())
    assert null_rows.count() > 0  # zero-weigh-in users present with nulls
    assert null_rows.filter(F.col("PSW").isNotNull()).count() == 0


def test_treatment_restart_distinct_episodes(spark, clinical_dir):
    """(UID, TreatmentTypeID, StartDate) triples identify episodes: a 1→2→1
    restart yields 3 distinct TSW scopes (pandas_DataModel.py:108-110)."""
    t = load_clinical_tables(spark, clinical_dir)
    df = run_cohort_pipeline(
        t["users"], t["weights"], t["treatments"],
        gender="all", min_age=0, max_age=120, clinic_id=None,
    )
    eps = (
        df.filter(F.col("Weight").isNotNull())
        .groupBy("UID")
        .agg(F.countDistinct("TreatmentTypeID", "Tmt_StartDate").alias("n_eps"))
    )
    assert eps.filter(F.col("n_eps") >= 3).count() > 0


def test_csv_typed_vs_late_cast_paths_agree(spark, clinical_dir):
    """S2 (typed-at-load, polars path) vs S1+P3 (late cast, pandas path)
    produce identical frames."""
    from datamodel_clinicaldata_spark.operators.relational import cast_timestamps
    from datamodel_clinicaldata_spark.sources.readers import read_clinical_csv

    typed = read_clinical_csv(spark, clinical_dir, "weights", typed_dates=True)
    late = cast_timestamps(
        read_clinical_csv(spark, clinical_dir, "weights", typed_dates=False),
        ["CreatedDate", "UpdatedDate"],
    )
    assert typed.schema == late.schema
    assert typed.exceptAll(late).count() == 0 and late.exceptAll(typed).count() == 0


def test_curate_cli_roundtrip(spark, sf_dir, tmp_path):
    """The curation CLI writes a JSONL corpus whose assignments replay the
    screen→dedup→pack chain; payloads survive the round trip."""
    from datamodel_clinicaldata_spark.curate import main as curate_main
    from datamodel_clinicaldata_spark.sources.readers import read_table

    out = str(tmp_path / "curated")
    curate_main(
        ["--input", sf_dir, "--output", out, "--min-tokens", "10",
         "--max-tokens", "5000", "--budget", "512"]
    )
    got = spark.read.json(out)
    assert set(got.columns) == {"doc_id", "source", "n_tokens", "bin_id", "text"}
    docs = read_table(spark, sf_dir, "documents")
    assert 0 < got.count() <= docs.count()
    # payloads intact for the kept docs
    joined = got.select("doc_id", F.col("text").alias("curated_text")).join(
        docs, "doc_id"
    )
    assert joined.filter(F.col("curated_text") != F.col("text")).count() == 0
    # bins respect the quota-chunk contract: every bin's pre-overflow
    # cumulative start is below k*budget (weak invariant; exact replay is
    # pinned by the curation_end_to_end oracle)
    assert got.filter(F.col("bin_id") < 0).count() == 0


def test_cli_keeps_live_session_conf(spark, sf_dir, tmp_path):
    """A CLI entry run inside a live session (``curate.main`` calls
    ``get_spark``) returns that session unchanged: it must not reset the
    fixture's 8 shuffle partitions to the core count."""
    from datamodel_clinicaldata_spark.curate import main as curate_main

    curate_main(["--input", sf_dir, "--output", str(tmp_path / "curated")])
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"


def test_run_query_cli(spark, sf_dir, capsys):
    """The registry front door: --list enumerates, a run displays, and
    unknown names exit 2."""
    from datamodel_clinicaldata_spark.run import main

    assert main(["--list"]) == 0
    listed = capsys.readouterr().out.splitlines()
    assert "clinical_cohort_week" in listed and len(listed) >= 169
    assert main(["scan_filter_project", "--sf-dir", sf_dir, "--limit", "3"]) == 0
    assert "l_orderkey" in capsys.readouterr().out
    assert main(["no_such_query"]) == 2


def test_flagship_observation_metrics(spark, sf_dir):
    """Observation metrics ride the normal action — values must agree
    with a direct aggregate, and arrive without a second execution."""
    from pyspark.sql import functions as F

    from datamodel_clinicaldata_spark.pipeline import (
        flagship_query,
        flagship_query_observed,
    )

    observed, obs = flagship_query_observed(spark, sf_dir)
    n = observed.count()  # the one action; metrics collected during it
    m = obs.get
    assert m["n_rows"] == n
    truth = flagship_query(spark, sf_dir).agg(
        F.sum(F.col("Weight").isNull().cast("long")).alias("nw"),
        F.min("Age").alias("a"),
        F.max("Age").alias("b"),
    ).collect()[0]
    assert m["n_null_weight"] == truth["nw"]
    assert (m["min_age"], m["max_age"]) == (truth["a"], truth["b"])


def test_curate_cli_clustered_layout(spark, sf_dir, tmp_path):
    """--layout clustered writes (source, bin_id)-sorted parquet whose
    footers prune per-source reads; content identical to plain."""
    from datamodel_clinicaldata_spark.curate import main as curate_main

    out = str(tmp_path / "curated_z")
    curate_main(
        [
            "--input", sf_dir, "--output", out,
            "--min-tokens", "1", "--max-tokens", "100000",
            "--budget", "512", "--format", "parquet",
            "--layout", "clustered",
        ]
    )
    df = spark.read.parquet(out)
    assert df.count() > 0 and set(df.columns) == {
        "doc_id", "source", "n_tokens", "bin_id", "text"
    }
