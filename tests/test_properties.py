"""Property-based tests (hypothesis) for the metric core — SURVEY.md §5.2:
random weigh-in histories must satisfy the metric invariants that hold by
construction in the reference semantics."""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from datamodel_clinicaldata_spark.operators.windows import with_cohort_metrics

BASE = datetime(2023, 1, 1)

# One weigh-in: (day offset, has UpdatedDate, weight). Offsets may collide
# and go negative (pre-treatment); weights may tie — exactly the cases the
# deterministic σ tiebreaker exists for.
weigh_in = st.tuples(
    st.integers(min_value=-10, max_value=40),
    st.booleans(),
    st.integers(min_value=50, max_value=120),
)

histories = st.dictionaries(
    st.sampled_from(["u1", "u2", "u3"]),
    st.lists(weigh_in, min_size=1, max_size=12),
    min_size=1,
    max_size=3,
)


_SCHEMA = (
    "UID string, TreatmentTypeID int, Tmt_StartDate timestamp, "
    "Wts_CreatedDate timestamp, Wts_UpdatedDate timestamp, Weight double, "
    "Age int, Gender string, ClinicID int"
)


def _run(spark, hist, cohort="week"):
    rows = [
        Row(
            UID=uid,
            TreatmentTypeID=1,
            Tmt_StartDate=BASE,
            Wts_CreatedDate=BASE + timedelta(days=d),
            Wts_UpdatedDate=(BASE + timedelta(days=d)) if upd else None,
            Weight=float(w),
            Age=30,
            Gender="Male",
            ClinicID=5066,
        )
        for uid, ws in hist.items()
        for (d, upd, w) in ws
    ]
    return with_cohort_metrics(spark.createDataFrame(rows, _SCHEMA), cohort).collect()


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(hist=histories)
def test_metric_invariants(spark, hist):
    out = _run(spark, hist)
    by_uid: dict[str, list] = {}
    for r in out:
        by_uid.setdefault(r["UID"], []).append(r)

    for uid, rows in by_uid.items():
        src = hist[uid]
        # NB: no plain sorted() here — tuples containing None (null
        # UpdatedDate) are not orderable; min() below uses an explicit key.
        sigma = [
            (BASE + timedelta(days=d), (BASE + timedelta(days=d)) if u else None, float(w))
            for d, u, w in src
        ]
        # metrics are row-count preserving
        assert len(rows) == len(src)
        # single treatment → PSW == TSW == weight of the σ-minimal row
        # (None sorts last on the UpdatedDate key)
        first = min(
            sigma,
            key=lambda t: (t[0], (0, t[1]) if t[1] is not None else (1,), t[2]),
        )
        for r in rows:
            assert r["PSW"] == r["TSW"] == first[2]
        # treatment_TBWL identical on every row of the episode
        assert len({r["treatment_TBWL"] for r in rows}) == 1
        # WIR == per-cohort count of non-null UpdatedDate
        from collections import Counter

        # Python // floors toward -inf — identical to floor(days/7) for
        # negative (pre-treatment) offsets, no adjustment needed.
        want_wir = Counter()
        for d, u, w in src:
            if u:
                want_wir[d // 7] += 1
        for r in rows:
            assert r["WIR"] == want_wir[r["week"]]
        # bucket arithmetic: week = floor(days/7) incl. negatives
        for r in rows:
            days = (r["Wts_CreatedDate"] - BASE).days
            assert r["week"] == days // 7
        # masking property: patient_TBWL ≥ 0 on multi-row cohorts that
        # have a next cohort (interior zeros dominate a negative boundary)
        weeks = Counter(d // 7 for d, _, _ in src)
        max_week = max(weeks)
        for r in rows:
            if weeks[r["week"]] > 1 and r["week"] != max_week:
                assert r["patient_TBWL"] is not None and r["patient_TBWL"] >= 0


def test_sketch_aggregates_error_bounds(spark, sf_dir):
    """HLL++ distinct counts within 5% of exact; GK quantiles within the
    rank-error bound of the exact percentiles."""
    import pyspark.sql.functions as F

    from datamodel_clinicaldata_spark.registry import QUERIES
    from datamodel_clinicaldata_spark.sources.readers import read_table

    e = read_table(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in e.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    # The registered query self-checks the sketch against its 3·rsd error
    # contract and emits the boolean; exact cardinalities ride along.
    got = {
        r["event_type"]: r
        for r in QUERIES["agg_approx_distinct_sketch"](spark, sf_dir).collect()
    }
    assert set(got) == set(exact)
    for k, n in exact.items():
        assert got[k]["exact_users"] == n
        assert got[k]["sketch_ok"], (k, got[k])

    # Raw HLL++ accuracy, independent of the registered query's bound.
    approx = {
        r["event_type"]: r["a"]
        for r in e.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.01).alias("a"))
        .collect()
    }
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(0.05 * n, 2), (k, approx[k], n)

    li = read_table(spark, sf_dir, "lineitem")
    n_by_flag = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for r in QUERIES["quantiles_approx_sketch"](spark, sf_dir).collect():
        assert r["n"] == n_by_flag[r["l_returnflag"]]
        assert r["p25_ok"] and r["p50_ok"] and r["p75_ok"], r


# ---------------------------------------------------------------------------
# Packing + connected-components invariants over random inputs
# ---------------------------------------------------------------------------
pack_inputs = st.lists(
    st.tuples(
        st.sampled_from(["sA", "sB"]),
        st.integers(min_value=1, max_value=700),  # sizes may exceed the budget
    ),
    min_size=1,
    max_size=25,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(pack_inputs)
def test_greedy_packing_property(spark, items):
    """Random size streams: greedy bins never exceed the budget except as
    singleton oversized docs, bin ids are contiguous from 0 per group, and
    every doc is assigned exactly once."""
    from datamodel_clinicaldata_spark.operators.packing import greedy_pack_bins

    budget = 500
    rows = [(i, src, n) for i, (src, n) in enumerate(items)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    out = greedy_pack_bins(df, budget=budget).collect()
    assert len(out) == len(rows)
    assert {r["doc_id"] for r in out} == {r[0] for r in rows}
    per_group: dict[str, dict[int, list[int]]] = {}
    for r in out:
        per_group.setdefault(r["source"], {}).setdefault(r["bin_id"], []).append(
            r["n_tokens"]
        )
    for bins in per_group.values():
        assert sorted(bins) == list(range(len(bins)))  # contiguous bin ids
        for sizes in bins.values():
            assert sum(sizes) <= budget or len(sizes) == 1


edge_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=14), st.integers(min_value=0, max_value=14)
    ),
    min_size=1,
    max_size=20,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(edge_lists)
def test_connected_components_property(spark, edges):
    """Random graphs: all three CC execution paths (single-task
    union-find fast path, distributed min-label fixpoint, star
    contraction) produce the identical labeling, equal to a driver
    union-find."""
    from datamodel_clinicaldata_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    real = [(a, b) for a, b in edges if a != b]
    if not real:
        return
    df = spark.createDataFrame(real, "src long, dst long")
    got = {r["node"]: r["component_id"] for r in connected_components(df).collect()}
    dist = {
        r["node"]: r["component_id"]
        for r in connected_components(df, local_threshold=0).collect()
    }
    star = {
        r["node"]: r["component_id"]
        for r in connected_components_star(df).collect()
    }
    assert got == dist == star

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    nodes = set()
    for a, b in real:
        nodes |= {a, b}
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    assert got == {n: find(n) for n in nodes}


def test_knuth_sampler_ansi_safe_at_huge_keys(spark):
    """The deterministic sampler must not overflow under ANSI mode at key
    ranges far beyond BIGINT/KNUTH (~3.5e9) — the 100 TB design point.
    A raw long multiply would throw ARITHMETIC_OVERFLOW here; the decimal
    path must return the exact mathematical (key * KNUTH) % 100."""
    from datamodel_clinicaldata_spark.functions.sampling import KNUTH, knuth_mod

    keys = [0, 1, 3_500_000_000, 2**62, 2**63 - 1, (2**63 - 1) // KNUTH + 7]
    df = spark.createDataFrame([(k,) for k in keys], "doc_id long")
    got = {
        r["doc_id"]: int(r["m"])
        for r in df.select("doc_id", knuth_mod("doc_id", 100).alias("m")).collect()
    }
    assert got == {k: (k * KNUTH) % 100 for k in keys}


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.integers(min_value=1, max_value=1500),  # token lengths across buckets
        min_size=1,
        max_size=40,
    )
)
def test_length_bucket_batching_property(spark, lengths):
    """Random length streams: every doc lands in exactly one batch, batch
    members share a bucket, no batch exceeds its bucket's batch size, and
    padded_tokens = max * count within the batch."""
    from datamodel_clinicaldata_spark.operators.packing import length_bucket_batches

    rows = [(i, n) for i, n in enumerate(lengths)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = length_bucket_batches(df).collect()
    bsize = {0: 64, 1: 32, 2: 16, 3: 8, 4: 4}
    assert sum(r["n_docs"] for r in out) == len(rows)
    for r in out:
        assert r["n_docs"] <= bsize[r["bucket_id"]]
        assert r["padded_tokens"] == r["max_tokens"] * r["n_docs"]
        assert r["sum_tokens"] <= r["padded_tokens"]


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(edge_lists)
def test_pagerank_local_equals_distributed(spark, edges):
    """The single-task fast path and the distributed fixed-point loop
    replay the identical e12 integer arithmetic — bit-equal results on
    random graphs (and both mass-conserving up to floor truncation)."""
    from datamodel_clinicaldata_spark.operators.graph import pagerank_fixedpoint

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    df = spark.createDataFrame(edges, "src long, dst long")
    local = {
        (r["node"], r["pr_e12"])
        for r in pagerank_fixedpoint(df, iters=4).collect()
    }
    dist = {
        (r["node"], r["pr_e12"])
        for r in pagerank_fixedpoint(df, iters=4, local_threshold=0).collect()
    }
    assert local == dist


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(
        st.integers(min_value=-(10**9), max_value=10**9), min_size=1, max_size=120
    ),
    parts=st.integers(min_value=1, max_value=9),
)
def test_ordered_prefix_property(spark, vals, parts):
    """ordered_prefix == sequential Python replay on arbitrary ints
    (duplicates, negatives, any partition count): rank, prefix sum,
    prefix max."""
    from pyspark.sql import Row

    from datamodel_clinicaldata_spark.operators.ranking import ordered_prefix

    rows = [Row(i=i, v=v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows).repartition(3)
    got = {
        r["i"]: (r["rk"], r["cs"], r["cm"])
        for r in ordered_prefix(
            df,
            [F.col("v").asc(), F.col("i").asc()],
            rank_col="rk",
            running_sum={"v": "cs"},
            running_max={"v": "cm"},
            num_partitions=parts,
        ).collect()
    }
    acc_s, acc_m = 0, None
    for rk, (i, v) in enumerate(sorted(enumerate(vals), key=lambda t: (t[1], t[0])), 1):
        acc_s += v
        acc_m = v if acc_m is None else max(acc_m, v)
        assert got[i] == (rk, acc_s, acc_m)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    series=st.lists(
        st.integers(min_value=-(10**8), max_value=10**8), min_size=1, max_size=60
    )
)
def test_ewma_fold_matches_python_replay(spark, series):
    """The fixed-point EWMA fold (s ← (8s + 2x) floordiv 10) replays
    exactly in Python ints — the engine-independence contract the DuckDB
    list_reduce twin relies on."""
    from pyspark.sql import Row

    rows = [Row(t=i, v=v) for i, v in enumerate(series)]
    df = spark.createDataFrame(rows)
    per = df.groupBy().agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("t"), F.col("v")))
        ).alias("ps")
    )

    def step(acc, p):
        nxt = 8 * acc + 2 * p["v"]
        m = ((nxt % 10) + 10) % 10
        return F.when(acc.isNull(), p["v"]).otherwise(((nxt - m) / 10).cast("long"))

    got = per.select(
        F.aggregate(F.col("ps"), F.lit(None).cast("long"), step).alias("e")
    ).collect()[0]["e"]
    acc = None
    for v in series:
        acc = v if acc is None else (8 * acc + 2 * v) // 10  # Python // is floor
    assert got == acc


def test_hamilton_allocation_sums_to_budget(spark):
    """Largest-remainder apportionment: Σalloc == B exactly, every base
    share within 1 of its exact quota — the integer-apportionment
    invariants float rounding cannot guarantee."""
    from datamodel_clinicaldata_spark.registry import QUERIES

    rows = QUERIES["mixture_token_budget_allocation"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert sum(r["alloc"] for r in rows) == 1_000_000
    tot = sum(r["tokens"] for r in rows)
    for r in rows:
        exact = r["tokens"] * 1_000_000 / tot
        assert r["base"] <= exact < r["base"] + 1
        assert r["alloc"] in (r["base"], r["base"] + 1)


def test_attribution_credit_bounded_per_conversion(spark):
    """Linear attribution: each touched conversion hands out at most 10⁶
    credit in total (integral div truncates, never over-credits), and
    every touchpoint belongs to a realized purchase."""
    from datamodel_clinicaldata_spark.registry import QUERIES

    rows = QUERIES["events_attribution_linear"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    total_credit = sum(r["credit_e6"] for r in rows)
    n_convs = max(r["n_conversions_touched"] for r in rows)
    assert 0 < total_credit <= n_convs * 2 * 1_000_000  # view+click legs
    for r in rows:
        assert r["event_type"] in ("view", "click")
        assert r["n_touchpoints"] >= r["n_conversions_touched"] > 0


def test_label_propagation_seeds_clamped(spark):
    """Seeded nodes never change label: every seeded row's propagated
    label equals its true type; unlabeled nodes are 'none' or a label
    that exists in the seed vocabulary."""
    from datamodel_clinicaldata_spark.registry import QUERIES

    rows = QUERIES["graph_label_propagation"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    seed_labels = {r["propagated"] for r in rows if r["seeded"]}
    for r in rows:
        if r["seeded"]:
            assert r["propagated"] == r["true_type"]
        else:
            assert r["propagated"] == "none" or r["propagated"] in seed_labels
