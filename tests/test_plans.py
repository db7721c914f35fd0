"""Physical-plan regression tests — pin the scale-critical plan shapes
so a refactor that silently de-optimizes (extra shuffle, lost broadcast,
lost pushdown, unpartitioned window) fails CI, not a cluster run."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datamodel_clinicaldata_spark.operators.similarity import cosine_topk_bruteforce
from datamodel_clinicaldata_spark.pipeline import (
    clinical_standins_from_testdata,
    cohort_model,
)
from datamodel_clinicaldata_spark.plans.audit import (
    assert_no_unpartitioned_window,
    audit,
    audit_plan,
    cached_plan,
)
from datamodel_clinicaldata_spark.registry import QUERIES
from datamodel_clinicaldata_spark.sources.readers import read_table


def test_flagship_plan_shape(spark, sf_dir):
    """The flagship pipeline: both dimension joins broadcast, ONE fact
    exchange (on UID) feeds all window operators, exactly 3 window sorts
    (cohort → treatment+patient shared → cohort), no sort-merge joins.
    Audited on the plan its persisted cohort model is built from, before
    the model's first action (the filters and distinct then run over the
    cached model)."""
    spark.catalog.clearCache()
    model = cohort_model(*clinical_standins_from_testdata(spark, sf_dir))
    a = audit_plan(cached_plan(model))
    assert a.broadcast_hash_joins == 2
    assert a.sort_merge_joins == 0
    assert a.windows == 4
    # exchanges: 1 for the treatments groupBy + 1 fact repartition on UID
    assert a.exchanges == 2
    # sorts: 2 for the treatments SortAggregate + 3 window sorts — the
    # 4th window sort is eliminated by dependency-staged window order
    # (operators/windows.py) + TransposeWindow exclusion (session.py)
    assert a.sorts == 5
    assert a.unpartitioned_windows == 0


def test_metric_stage_single_exchange(spark, sf_dir):
    """The metric stage in isolation (verdict r2 #6): over an
    already-assembled frame, ALL four window operators ride ONE wide
    exchange (the explicit UID repartition) and at most 3 in-partition
    sorts (cohort → treatment+patient shared → cohort). A regression here
    is one extra full-data shuffle per query at 100 TB."""
    from datamodel_clinicaldata_spark.operators.relational import rename_columns
    from datamodel_clinicaldata_spark.operators.windows import with_cohort_metrics
    from datamodel_clinicaldata_spark.operators.relational import assemble_star

    users, weights, treatments = clinical_standins_from_testdata(spark, sf_dir)
    assembled = rename_columns(assemble_star(users, weights, treatments))
    # localCheckpoint-free isolation: audit only what the metric stage adds
    # on top of the assembly plan by differencing the two audits.
    base = audit(assembled)
    full = audit(with_cohort_metrics(assembled, cohort="week"))
    assert full.windows == 4
    assert full.exchanges - base.exchanges == 1
    assert full.sorts - base.sorts <= 3
    assert full.unpartitioned_windows == 0


def test_scan_pushdown_and_pruning(spark, sf_dir):
    """Filters and projections must reach the parquet scan."""
    df = (
        read_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 30)
        .select("l_orderkey", "l_quantity")
    )
    scan = audit(df).scan_for("lineitem.parquet")
    assert any("l_quantity" in f for f in scan["pushed_filters"])
    assert "l_orderkey" in scan["read_schema"]
    assert "l_comment" not in scan["read_schema"]


def test_topk_two_phase_no_serial_sort(spark, sf_dir):
    """Brute-force top-k must rank per (query, input-partition) first —
    never a single unpartitioned/per-query-only window over the corpus."""
    e = read_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    df = cosine_topk_bruteforce(e, q, k=5)
    assert_no_unpartitioned_window(df)
    a = audit(df)
    assert a.windows == 2  # local rank + global rank


@pytest.mark.parametrize(
    "name",
    [
        "clinical_cohort_week",
        "agg_revenue_by_nation",
        "join_asof_backward",
        "stream_tumbling_counts",
        "similarity_topk_bruteforce",
        "dedup_minhash_lsh",
    ],
)
def test_no_unpartitioned_windows_across_surface(spark, sf_dir, name):
    assert_no_unpartitioned_window(QUERIES[name](spark, sf_dir))


def test_revenue_forecast_plan(spark, sf_dir):
    """q6 shape: every predicate reaches the scan, 4-column ReadSchema,
    no wide (hash-partitioned) exchange — the only shuffle is the 1-row
    SinglePartition agg merge — and no joins at all."""
    a = audit(QUERIES["agg_revenue_forecast"](spark, sf_dir))
    scan = a.scan_for("lineitem.parquet")
    assert any("l_shipdate" in f for f in scan["pushed_filters"])
    assert any("l_discount" in f for f in scan["pushed_filters"])
    assert "l_comment" not in scan["read_schema"]
    assert a.exchanges == 0
    assert a.sort_merge_joins == 0 and a.broadcast_hash_joins == 0


def test_topk_returned_customers_plan(spark, sf_dir):
    """q10 shape: customer dim broadcast; global top-20 runs as
    TakeOrderedAndProject, never a full global sort."""
    from datamodel_clinicaldata_spark.plans.audit import physical_plan

    df = QUERIES["topk_returned_customers"](spark, sf_dir)
    a = audit(df)
    assert a.broadcast_hash_joins >= 1
    assert "TakeOrderedAndProject" in physical_plan(df)
    assert a.sorts == 0


def test_large_volume_customers_plan(spark, sf_dir):
    """q18 shape: the HAVING-filtered rollup broadcasts back to orders."""
    a = audit(QUERIES["agg_large_volume_customers"](spark, sf_dir))
    assert a.broadcast_hash_joins >= 1


def test_mixture_filter_no_shuffle(spark, sf_dir):
    """Weighted mixture sampling is a pure narrow filter — zero exchanges."""
    a = audit(QUERIES["sample_weighted_mixture"](spark, sf_dir))
    assert a.exchanges == 0


def test_packing_single_shuffle(spark, sf_dir):
    """Quota packing: exactly one exchange (the source partitioning) and
    its window is partitioned; stratified sampling likewise."""
    for name in ("pack_sequences_quota", "sample_stratified_orders"):
        a = audit(QUERIES[name](spark, sf_dir))
        assert a.exchanges == 1, name
        assert a.unpartitioned_windows == 0, name
        assert a.windows == 1, name


def test_curation_pipeline_plan(spark, sf_dir):
    """End-to-end curation: dedup content-hash window + packing partition
    = the only wide exchanges; NO joins anywhere (the keeper-semi-join
    alternative would add a corpus-sized broadcast); both windows
    partitioned."""
    a = audit(QUERIES["curation_end_to_end"](spark, sf_dir))
    assert a.exchanges == 2
    assert a.broadcast_hash_joins == 0
    assert a.sort_merge_joins == 0
    assert a.windows == 2
    assert a.unpartitioned_windows == 0


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """A join against a filtered dim over a hive-partitioned fact must
    inject a dynamicpruning PartitionFilter — at scale this is what keeps
    a dim-filtered query from scanning every fact partition."""
    from datamodel_clinicaldata_spark.plans.audit import physical_plan
    from datamodel_clinicaldata_spark.sources.writers import write_partitioned

    fact_dir = str(tmp_path / "orders_by_year")
    o = read_table(spark, sf_dir, "orders").withColumn("o_year", F.year("o_orderdate"))
    write_partitioned(o, fact_dir, ["o_year"])

    fact = spark.read.parquet(fact_dir)
    dim = spark.createDataFrame(
        [(1996, "pick"), (1997, "other")], "yr int, tag string"
    ).filter(F.col("tag") == "pick")
    j = fact.join(dim, fact.o_year == dim.yr)

    assert "dynamicpruning" in physical_plan(j).lower()
    expected = o.filter(F.col("o_year") == 1996).count()
    assert j.count() == expected


def test_runtime_bloom_filter_injection(spark, sf_dir):
    """With a selective dim filter and a non-broadcast join, Spark injects
    a runtime bloom filter (bloom_filter_agg on the creation side, a
    might-contain probe on the fact scan side) — the shuffle-join analog
    of DPP at 100 TB. Locally the application-side scan threshold is
    lowered to simulate scale; conf restored after."""
    from datamodel_clinicaldata_spark.plans.audit import physical_plan

    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "1",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = read_table(spark, sf_dir, "lineitem")
        o = read_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        assert "bloom_filter_agg" in physical_plan(j)
        expected = (
            li.join(
                o.hint("broadcast"), F.col("l_orderkey") == F.col("o_orderkey")
            ).count()
        )
        assert j.count() == expected
    finally:
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_sessionize_single_exchange(spark, sf_dir):
    """Batch sessionization: lag, running sum and the session rollup all
    share ONE hash exchange on user_id; both windows partitioned."""
    a = audit(QUERIES["sessionize_events_batch"](spark, sf_dir))
    assert a.exchanges == 1
    assert a.unpartitioned_windows == 0


def test_substring_spans_plan(spark, sf_dir):
    """Span dedup: two exchanges (span-hash window, doc rollup), no joins
    anywhere — the count-over-hash-partition shape, not a self-join."""
    a = audit(QUERIES["dedup_substring_spans"](spark, sf_dir))
    assert a.exchanges == 2
    assert a.sort_merge_joins == 0 and a.broadcast_hash_joins == 0
    assert a.unpartitioned_windows == 0


def test_cms_sketch_joins_broadcast(spark, sf_dir):
    """CMS heavy hitters: the d*w-bounded sketch and the top-k key set
    join only as broadcasts — no sort-merge join may appear."""
    a = audit(QUERIES["text_cms_heavy_hitters"](spark, sf_dir))
    assert a.sort_merge_joins == 0
    assert a.broadcast_hash_joins >= 1


def test_mixture_schedule_broadcast_totals(spark, sf_dir):
    """Temperature mixing: per-source agg rows cross-join the scalar
    totals via broadcast; no sort-merge join."""
    a = audit(QUERIES["mixture_temperature_schedule"](spark, sf_dir))
    assert a.sort_merge_joins == 0


def test_registered_surface_window_audit(spark, sf_dir):
    """Verdict r5 #2: NO registered query may plan an unpartitioned
    window over unbounded input. tools/window_audit.py sweeps every
    registered query; bounded exceptions (rank over ≤k TakeOrdered
    survivors, ordered_prefix's ≤n_partitions offsets frame,
    calendar-bounded rollups) are allowlisted there with justifications,
    and adaptive operators whose construction runs jobs are pinned by
    their own tests instead."""
    from tools.window_audit import sweep

    bad = sweep(spark, sf_dir)
    assert not bad, f"unpartitioned windows over unbounded input: {bad}"


def test_audit_counts_a_computed_model_once(spark, sf_dir):
    """Once a persisted cohort model has been computed, a query over it
    prints the model's final and initial plan; the audit keeps only the
    initial one, so the strict variant's one global lead is counted once."""
    QUERIES["clinical_cohort_week_strict"](spark, sf_dir).collect()
    a = audit(QUERIES["clinical_cohort_week_strict"](spark, sf_dir))
    assert a.unpartitioned_windows == 1
    assert a.windows == 5


def test_aqe_skew_join_split(spark, sf_dir):
    """AQE must split a skewed shuffle-join partition at runtime (the
    straggler defense the 100 TB plan relies on beside explicit salting).
    Locally the skew thresholds are lowered so the synthetic hot key
    (one value on ~half the rows) trips the optimizer; conf restored."""
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.coalescePartitions.enabled",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        left = spark.range(80_000).select(
            F.when(F.col("id") % 2 == 0, 7).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(50_000).select(F.col("id").alias("k"))
        j = left.join(right, "k")
        # drive THIS Dataset's own QueryExecution to completion — a
        # count() would execute a separate plan instance and leave j's
        # AdaptiveSparkPlan unfinalized
        assert len(j.collect()) > 0
        final = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final
        assert "skew=true" in final, "AQE did not split the skewed partition"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_curation_funnel_single_scan(spark, sf_dir):
    """The funnel's claim is ONE pass: every stage predicate is a per-row
    expression folded by one aggregate (the count-distinct expand may
    re-exchange, but must not re-SCAN). A second documents scan means a
    per-stage rescan crept in — linear cost × stages at 100 TB."""
    a = audit(QUERIES["curation_filter_funnel"](spark, sf_dir))
    doc_scans = [s for s in a.scans if "documents" in s["location"]]
    assert len(doc_scans) == 1
    assert a.windows == 0
    assert a.sort_merge_joins == 0


def test_incremental_dedup_crossing_filter_in_postings_join(spark, sf_dir):
    """The incremental screen keeps only incoming×corpus pairs. Its
    crossing filter, applied to ``ngram_jaccard_pairs``' output, must be
    pushed into the postings self-join condition below the pair-count
    aggregate, so corpus×corpus pairs never reach the count shuffle."""
    df = QUERIES["dedup_incremental_against_corpus"](spark, sf_dir)
    lines = df._jdf.queryExecution().optimizedPlan().toString().splitlines()
    (agg,) = [i for i, ln in enumerate(lines) if "count(1) AS __c#" in ln]
    (join,) = [i for i, ln in enumerate(lines) if "Join Inner" in ln and "shingle#" in ln]
    assert "% 5) = 4" in lines[join]
    # tree-string indent: every line from the aggregate down to the join
    # sits deeper than the aggregate, i.e. the join is in its subtree
    depth = [len(ln) - len(ln.lstrip(" :+-")) for ln in lines]
    assert join > agg and all(d > depth[agg] for d in depth[agg + 1 : join + 1])


def test_target_encoding_no_window_no_smj(spark, sf_dir):
    """LOO encoding must use aggregate-then-broadcast-back, NOT a
    PARTITION BY segment window (5 giant skewed partitions at 100 TB).
    The 5-row stats frame must come back as a broadcast join."""
    a = audit(QUERIES["feature_target_encoding"](spark, sf_dir))
    assert a.windows == 0
    assert a.broadcast_hash_joins >= 1


def test_syllable_complexity_map_only(spark, sf_dir):
    """The syllable fold is per-row HOFs only: one scan, no windows, no
    joins. The single allowed exchange is the compute-density spread
    (``ensure_min_parallelism`` — the per-row fold is ~10³ ops/byte, so
    the single-rowgroup scan would otherwise run it on one core; 0.75 s
    → 0.29 s at sf0.1). A SECOND exchange, a window, or a broadcast
    means an explode/groupBy replaced the in-row fold."""
    a = audit(QUERIES["text_syllable_complexity"](spark, sf_dir))
    assert a.exchanges <= 1
    assert a.broadcast_exchanges == 0
    assert a.windows == 0
    assert len(a.scans) == 1


def test_shingle_novelty_linear_shape(spark, sf_dir):
    """Novelty is df ENRICHMENT, not pair generation: ONE scan+explode,
    df via a count window PARTITIONED on the digest (round-8 rewrite —
    the groupBy+join-back shape scanned documents twice and shuffled
    postings twice). What must never appear: an unpartitioned window,
    or a pair join keyed on the shingle with both sides carrying
    doc_ids (a second documents scan would be its symptom)."""
    a = audit(QUERIES["text_shingle_novelty"](spark, sf_dir))
    assert a.windows == 1
    assert a.unpartitioned_windows == 0
    doc_scans = [s for s in a.scans if "documents" in s["location"]]
    assert len(doc_scans) == 1


def test_rolling_corr_and_autocorr_bounded(spark, sf_dir):
    """rolling_corr: its ONE unpartitioned window runs over the ≤|days|
    post-agg frame (window_audit BOUNDED_OK). autocorr: windowless by
    design — the lag join replaces the frame."""
    a = audit(QUERIES["timeseries_rolling_corr"](spark, sf_dir))
    assert a.windows == 1
    ac = audit(QUERIES["timeseries_autocorr"](spark, sf_dir))
    assert ac.windows == 0
    assert ac.broadcast_hash_joins >= 1  # 7-row lag table broadcasts


def test_cube_single_aggregate_pass(spark, sf_dir):
    """CUBE must plan as Expand + ONE aggregation over one customer scan
    with the nation dim broadcast — not four unioned rescans."""
    a = audit(QUERIES["agg_cube_nation_segment"](spark, sf_dir))
    cust_scans = [s for s in a.scans if "customer" in s["location"]]
    assert len(cust_scans) == 1
    assert a.broadcast_hash_joins == 1
    assert a.sort_merge_joins == 0


def test_audit_detects_planted_violations(spark, sf_dir):
    """The audit must be able to FAIL — round 8 found the spec regex had
    been vacuously 'clean' for every currentrow$()-terminated frame.
    Plant one specimen of each shape and pin the verdicts:
    unpartitioned rank ⇒ flagged; same rank behind a limit (topk shape)
    ⇒ bounded, not flagged; partitioned rank ⇒ not flagged;
    decorrelated-LATERAL style (partition only in the operator bracket)
    is covered by the registry sweep via sql_lateral_top_orders."""
    from pyspark.sql import Window as W

    df = read_table(spark, sf_dir, "nation")
    bad = df.withColumn(
        "r", F.row_number().over(W.orderBy("n_nationkey"))
    )
    assert audit(bad).unpartitioned_windows == 1
    bounded = df.orderBy("n_nationkey").limit(5).withColumn(
        "r", F.row_number().over(W.orderBy("n_nationkey"))
    )
    assert audit(bounded).unpartitioned_windows == 0
    good = df.withColumn(
        "r",
        F.row_number().over(
            W.partitionBy("n_regionkey").orderBy("n_nationkey")
        ),
    )
    assert audit(good).unpartitioned_windows == 0
    # global no-order frame (the q15 shape this round rewrote) ⇒ flagged
    glob = df.withColumn("m", F.max("n_nationkey").over(W.partitionBy()))
    assert audit(glob).unpartitioned_windows == 1


def test_weighted_quantiles_single_lineitem_scan(spark, sf_dir):
    """The grand total must come from the checkpointed prefix frame
    (max running sum), never a second lineitem aggregate. ordered_prefix
    checkpoints its input, so the FINAL plan contains no parquet scan at
    all — every branch reads the checkpoint (a lineitem re-scan would
    surface as a FileScan here)."""
    a = audit(QUERIES["agg_weighted_quantiles"](spark, sf_dir))
    assert len(a.scans) == 0


def test_dau_wau_no_window_no_selfjoin(spark, sf_dir):
    """Windowed distinct rides the temporal contribution explode: no
    window operator, no sort-merge self-join over user-days."""
    a = audit(QUERIES["events_dau_wau_stickiness"](spark, sf_dir))
    assert a.windows == 0
    assert a.unpartitioned_windows == 0


def test_chisq_single_events_scan(spark, sf_dir):
    """Margins and the N total all derive from the 35-cell contingency
    frame — one events scan, windows only over the cell frame."""
    a = audit(QUERIES["diag_chisq_independence"](spark, sf_dir))
    ev_scans = [s for s in a.scans if "events" in s["location"]]
    assert len(ev_scans) == 1
    # margins + totals: two partitioned windows + the one global window
    # bounded by the contingency-cell count (window_audit BOUNDED_OK)
    assert a.unpartitioned_windows == 1


def test_column_profile_single_scan(spark, sf_dir):
    """Profiling C columns must cost ONE events pass (struct-array
    explode unpivot + one shared (col, value) exchange), not C scans: a
    per-column union-of-scans shape re-reads the corpus once per audited
    column at 100 TB. The sharing is AQE stage reuse, so the assertion
    reads the EXECUTED adaptive plan (the static plan prints both
    branches; at runtime one becomes a ReusedQueryStage): exactly one
    FileScan and at least one reused stage in the final plan section."""
    df = QUERIES["diag_column_profile"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan") == 1
    assert "ReusedQueryStage" in final or "ReusedExchange" in final


def test_knn_eval_candidate_path_no_pair_bnlj(spark, sf_dir):
    """Round-9 reshape pinned: the registered KNN label eval generates
    candidates via the IVF cid hash join — its plan must carry NO
    BroadcastNestedLoopJoin (the all-pairs form is the guarded fallback
    on the operator, not the registry row) and no unpartitioned window
    (the rank window is qid-partitioned)."""
    from datamodel_clinicaldata_spark.plans.audit import physical_plan

    df = QUERIES["eval_knn_label_accuracy"](spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    a = audit(df)
    assert a.unpartitioned_windows == 0


def test_expansion_width_rule():
    """r12 200M-rung lesson promoted to the operator layer (verdict r12
    #3): ~25k source docs per reduce partition, floored at the session
    default (small inputs keep their exact current plans), capped at 512."""
    from datamodel_clinicaldata_spark.operators.partitioning import expansion_width

    assert expansion_width(0, 32) == 32
    assert expansion_width(800_000, 32) == 32  # 32 partitions still fit
    assert expansion_width(4_000_000, 32) == 160  # the r12 wall regime
    assert expansion_width(1_000_000_000, 32) == 512  # cap
    assert expansion_width(1_000_000, 64) == 64  # floor at default


def test_source_rows_for_width_paths(spark, sf_dir):
    """Explicit estimate wins; a small file scan short-circuits to 0
    with NO job (the sf0.1 bench cells keep their plans and floors); a
    non-file frame falls through to a count."""
    from datamodel_clinicaldata_spark.operators.partitioning import (
        source_rows_for_width,
    )

    docs = read_table(spark, sf_dir, "documents")
    assert source_rows_for_width(docs, 12345) == 12345
    assert source_rows_for_width(docs) == 0  # tiny parquet — "small"
    assert source_rows_for_width(spark.range(50)) == 50  # count fallback


def test_postings_reduce_width_widens_at_scale(spark):
    """The postings groupBy's exchange must scale with the corpus (r12:
    ~150M distinct fingerprint keys through 32 partitions GC-killed a
    48 GiB JVM) and must stay ABSENT at small row counts so the sf0.1
    plans — and their promoted floors — are untouched."""
    from datamodel_clinicaldata_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filtered_jaccard_pairs,
    )

    docs = spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("alpha beta gamma delta epsilon zeta eta theta "),
            F.col("id").cast("string"),
        ).alias("text"),
    )
    wide = ngram_jaccard_pairs(docs, n_rows_est=10_000_000)
    plan = wide._jdf.queryExecution().optimizedPlan().toString()
    # width = min(512, max(default, 10M // 25k)) = 400
    assert "RepartitionByExpression" in plan and ", 400" in plan
    small = ngram_jaccard_pairs(docs, n_rows_est=100)
    plan_small = small._jdf.queryExecution().optimizedPlan().toString()
    assert ", 400" not in plan_small

    wide2 = prefix_filtered_jaccard_pairs(docs, n_rows_est=10_000_000)
    plan2 = wide2._jdf.queryExecution().optimizedPlan().toString()
    assert "RepartitionByExpression" in plan2 and ", 400" in plan2


def test_winnowing_operator_width_semantics_stable(spark):
    """Widening is a pure layout change: the engine winnowing operator
    returns identical pairs with and without a forced-wide exchange."""
    from datamodel_clinicaldata_spark.operators.dedup import winnowing_pairs

    base = "the quick brown fox jumps over the lazy dog again and again "
    docs = spark.range(30).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, F.lit(base * 4)).otherwise(
            F.concat(F.lit(base), F.col("id").cast("string"), F.lit(" unique tail padding here"))
        ).alias("text"),
    )
    narrow = sorted(
        (r.id_a, r.id_b, r.n_shared)
        for r in winnowing_pairs(docs, n_rows_est=30).collect()
    )
    wide = sorted(
        (r.id_a, r.id_b, r.n_shared)
        for r in winnowing_pairs(docs, n_rows_est=50_000_000).collect()
    )
    assert narrow == wide and len(narrow) > 0


# Registered queries whose generated code is the same on every run (the
# ones that recompile each run are a ROADMAP lead); one cold sweep of them
# compiles well over 200 classes, twice Spark's default cache capacity.
REPEATED_QUERIES = (
    "window_rank_functions",
    "agg_argmax_customer_per_nation",
    "agg_modal_segment_per_nation",
    "scd2_user_value_history",
    "window_rolling_24h",
    "events_top_paths",
    "window_first_last_value",
    "agg_hll_merge_rollup",
    "agg_late_suppliers",
    "stream_session_windows",
    "window_nonnull_count",
    "stream_dedup_events",
    "events_max_concurrency",
    "timeseries_cusum_changepoint",
    "feature_quantile_normalization",
    "diag_chisq_independence",
    "events_new_vs_returning",
    "sql_lateral_top_orders",
    "sessionize_events_batch",
    "timeseries_gapfill_interpolate",
)


def test_repeated_queries_reuse_generated_code(spark, sf_dir):
    """A second sweep of the same queries in one session compiles no
    class: the session's generated-class cache holds the whole sweep.
    The JVM-wide cache is emptied first, as in a new JVM, so the first
    sweep's count does not depend on which tests ran before."""
    jvm = spark.sparkContext._jvm
    cache = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    ).getDeclaredField("cache")
    cache.setAccessible(True)
    cache.get(None).invalidateAll()
    compiled = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    counts = []
    for _ in range(2):
        before = compiled.getCount()
        for name in REPEATED_QUERIES:
            spark.catalog.clearCache()
            QUERIES[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        counts.append(compiled.getCount() - before)
    assert counts[0] > 200 and counts[1] == 0, counts
