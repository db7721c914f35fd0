"""Pin the two-phase distributed ordering primitives against the
single-partition ``Window.orderBy`` truth they replace (verdict r5:
corpus-sized global windows must not funnel through one task)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, Window
from pyspark.sql import functions as F

from datamodel_clinicaldata_spark.operators.ranking import (
    ordered_prefix,
    topk_ranked,
)


def _mk(spark, n=997, parts=13):
    # Deterministic pseudo-random values; ids make the order a total order.
    return (
        spark.range(n)
        .repartition(parts)  # scramble physical layout
        .select(
            F.col("id"),
            ((F.col("id") * 2654435761) % 1000).alias("v"),
            ((F.col("id") * 40503) % 7).alias("g"),
        )
    )


@pytest.fixture(scope="module")
def df(spark):
    return _mk(spark).cache()


def _truth(df, order):
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    return df.select(
        "id",
        F.row_number().over(Window.orderBy(*order)).cast("long").alias("rank"),
        F.sum("v").over(w).alias("cum_v"),
        F.max("v").over(w).alias("run_max"),
    )


def _cols(spec):
    # ("v:asc", "id:desc") → [F.col("v").asc(), F.col("id").desc()];
    # Column objects can't be built at collection time (no active context).
    out = []
    for s in spec:
        name, _, d = s.partition(":")
        c = F.col(name)
        out.append(c.desc() if d == "desc" else c.asc())
    return out


@pytest.mark.parametrize(
    "spec",
    [
        ("v:asc", "id:asc"),
        ("v:desc", "id:asc"),
        ("g:asc", "v:desc", "id:desc"),
    ],
    ids=["asc", "desc", "mixed"],
)
def test_ordered_prefix_matches_global_window(spark, df, spec):
    order = _cols(spec)
    got = ordered_prefix(
        df,
        list(order),
        rank_col="rank",
        running_sum={"v": "cum_v"},
        running_max={"v": "run_max"},
        num_partitions=8,
    ).select("id", "rank", "cum_v", "run_max")
    truth = _truth(df, list(order))
    assert got.exceptAll(truth).isEmpty() and truth.exceptAll(got).isEmpty()


def test_ordered_prefix_distributed_plan(spark, df):
    """The data must stay spread over the requested range partitions, not
    funnel through one task (the checkpoint hides the range exchange from
    the SQL plan string, so assert the physical property instead): every
    range partition holds a contiguous, non-overlapping rank span."""
    # AQE rightly coalesces a 997-row frame to one partition; switch it
    # off so the partition-spread property is observable at test scale.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        got = ordered_prefix(
            df, _cols(("v:asc", "id:asc")), rank_col="rank", num_partitions=8
        )
        spans = (
            got.withColumn("__p", F.spark_partition_id())
            .groupBy("__p")
            .agg(
                F.min("rank").alias("lo"),
                F.max("rank").alias("hi"),
                F.count("*").alias("n"),
            )
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    nonempty = [(r["lo"], r["hi"], r["n"]) for r in spans if r["n"] > 0]
    # Rows stay spread over several tasks (the single-partition global
    # window would put all 997 in one), and the ranks are a perfect
    # 1..n sequence across them.
    assert len(nonempty) >= 2
    assert sum(n for _, _, n in nonempty) == 997
    assert min(lo for lo, _, _ in nonempty) == 1
    assert max(hi for _, hi, _ in nonempty) == 997


def test_ordered_prefix_tiny_and_empty(spark):
    one = spark.createDataFrame([Row(id=1, v=5)])
    out = ordered_prefix(
        one, _cols(("v:asc", "id:asc")), rank_col="rank",
        running_sum={"v": "cum"}, num_partitions=8,
    ).collect()
    assert out[0]["rank"] == 1 and out[0]["cum"] == 5
    empty = spark.createDataFrame([], "id long, v long")
    assert (
        ordered_prefix(
            empty, _cols(("v:asc",)), rank_col="rank", num_partitions=4
        ).count()
        == 0
    )


def test_topk_ranked_matches_window_filter(spark, df):
    order = _cols(("v:desc", "id:asc"))
    got = topk_ranked(df, order, 25).select("id", "rank")
    w = Window.orderBy(*order)
    truth = (
        df.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 25)
        .select("id", "rank")
    )
    assert got.exceptAll(truth).isEmpty() and truth.exceptAll(got).isEmpty()


def test_topk_ranked_k_exceeds_rows(spark):
    small = spark.createDataFrame([Row(id=i, v=i % 3) for i in range(5)])
    out = topk_ranked(small, _cols(("v:asc", "id:asc")), 100).collect()
    assert len(out) == 5
    assert sorted(r["rank"] for r in out) == [1, 2, 3, 4, 5]


def test_ordered_prefix_under_aggregation_consumer(spark, df):
    """Regression: a downstream aggregation changed AQE planning enough
    that the stats branch and probe branch materialized SEPARATE range
    exchanges with different sampled boundaries — pid misalignment gave
    wrong offsets (observed as phantom late arrivals in
    diag_late_arrivals). The lazy localCheckpoint in ordered_prefix pins
    one materialization; this consumer shape must stay exact."""
    order = _cols(("id:asc",))
    run = ordered_prefix(df, order, running_max={"v": "rm"})
    # run_max can never be below the current value, and grouping must
    # reproduce the single-partition truth exactly
    got = (
        run.groupBy((F.col("id") % 5).alias("g"))
        .agg(F.sum("rm").alias("s"), F.max("rm").alias("m"))
    )
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    truth = (
        df.withColumn("rm", F.max("v").over(w))
        .groupBy((F.col("id") % 5).alias("g"))
        .agg(F.sum("rm").alias("s"), F.max("rm").alias("m"))
    )
    assert got.exceptAll(truth).isEmpty() and truth.exceptAll(got).isEmpty()


def test_running_sum_matches_sweep_line_shape(spark):
    """ordered_prefix running_sum over interleaved ±1 deltas (the
    max-concurrency sweep line) reproduces the sequential prefix."""
    from pyspark.sql import Row

    rows = []
    for i in range(200):
        rows.append(Row(t=i * 10, delta=1, eid=i))
        rows.append(Row(t=i * 10 + 35, delta=-1, eid=i))
    df = spark.createDataFrame(rows).repartition(7)
    run = ordered_prefix(
        df,
        _cols(("t:asc", "delta:asc", "eid:asc")),
        running_sum={"delta": "conc"},
        num_partitions=6,
    ).collect()
    got = {(r["t"], r["delta"], r["eid"]): r["conc"] for r in run}
    acc = 0
    for r in sorted(rows, key=lambda r: (r.t, r.delta, r.eid)):
        acc += r.delta
        assert got[(r.t, r.delta, r.eid)] == acc
    assert max(got.values()) == 4  # 35/10 → at most 4 concurrent intervals


def test_binned_interval_join_matches_naive(spark):
    """Binned equi-join == naive inequality join on boundary-heavy data
    (points exactly ON bin edges, intervals shorter/longer than a bin)."""
    from pyspark.sql import Row

    from datamodel_clinicaldata_spark.operators.joins import binned_interval_join

    W = 100
    ivs = [
        Row(iid=1, s=0, e=100),      # exactly one bin
        Row(iid=2, s=50, e=250),     # spans three bins
        Row(iid=3, s=100, e=101),    # 1-unit interval on a boundary
        Row(iid=4, s=399, e=400),    # ends exactly on a boundary
        Row(iid=5, s=1000, e=1300),  # empty region
    ]
    pts = [Row(pid=i, t=t) for i, t in enumerate(
        [0, 50, 99, 100, 101, 199, 200, 249, 250, 399, 400, 999, 1299]
    )]
    P, I = spark.createDataFrame(pts), spark.createDataFrame(ivs)
    got = binned_interval_join(P, I, "t", "s", "e", bin_width_us=W).select(
        "pid", "iid"
    )
    naive = P.join(I, (P.t >= I.s) & (P.t < I.e)).select("pid", "iid")
    assert got.exceptAll(naive).isEmpty() and naive.exceptAll(got).isEmpty()
    # no duplicate pairs
    assert got.groupBy("pid", "iid").count().filter("count > 1").isEmpty()


def test_ordered_prefix_count_small_matches_distributed(spark, df):
    """The counted-small adaptive path (bounded single-partition window)
    must equal the two-phase distributed path row for row."""
    order = _cols(("v:asc", "id:asc"))
    small = ordered_prefix(
        df,
        list(order),
        rank_col="rank",
        running_sum={"v": "cum_v"},
        running_max={"v": "run_max"},
        count_small=10_000,  # 997 rows → takes the small path
    ).select("id", "rank", "cum_v", "run_max")
    dist = ordered_prefix(
        df,
        list(order),
        rank_col="rank",
        running_sum={"v": "cum_v"},
        running_max={"v": "run_max"},
        num_partitions=8,
    ).select("id", "rank", "cum_v", "run_max")
    assert small.exceptAll(dist).isEmpty() and dist.exceptAll(small).isEmpty()


def test_ordered_prefix_count_small_above_threshold_is_distributed(spark, df):
    """count_small below the actual row count must fall through to the
    two-phase plan (no single-partition window in the physical plan)."""
    got = ordered_prefix(
        df,
        _cols(("v:asc", "id:asc")),
        rank_col="rank",
        count_small=10,  # 997 rows → distributed path
        num_partitions=8,
    )
    truth = _truth(df, _cols(("v:asc", "id:asc"))).select("id", "rank")
    assert (
        got.select("id", "rank").exceptAll(truth).isEmpty()
        and truth.exceptAll(got.select("id", "rank")).isEmpty()
    )


def test_ordered_prefix_count_gate_skips_count_on_big_estimates(spark, df):
    """Verdict r13 #3/#5: count_small paid an exact df.count() at EVERY
    scale — a full extra pass over non-materialized inputs above the
    threshold, where the escape buys nothing. The r14 stats gate must
    (a) skip the count job entirely when the optimizer estimate is big,
    (b) still count (and take the local path) for small inputs, and
    (c) honor count_mode="exact" for materialized frames whose origin
    stats are useless (pinned fixpoints)."""
    from datamodel_clinicaldata_spark.operators import ranking as rk

    # (a) big estimate → no count: spark.range carries an exact 8 B/row
    # estimate, so 1B rows ≫ 2M × 100 B skips the confirming count.
    big = spark.range(1_000_000_000)
    assert not rk._should_exact_count(big, 2_000_000)
    # (b) small estimate → count runs and the local path is taken; the
    # result equals the distributed path (row-for-row, pinned above).
    assert rk._should_exact_count(df, 10_000)
    counts = []
    orig_count = type(df).count
    try:
        type(df).count = lambda self: counts.append(1) or orig_count(self)
        out = ordered_prefix(
            df, _cols(("v:asc", "id:asc")), rank_col="rank",
            count_small=10_000,
        )
        out.collect()
        assert len(counts) == 1  # gated count ran exactly once
        # big-estimate input + count_small → gate must not count. The
        # two-phase path's lazy pin runs no count, but under AQE it does
        # run the range-exchange stages while the plan is built, so the
        # input is small in rows: a join whose size-only estimate is the
        # product of its sides (6.4e11 B for 100k rows).
        inflated = spark.range(100_000).join(spark.range(100_000), "id")
        assert not rk._should_exact_count(inflated, 2_000_000)
        counts.clear()
        ordered_prefix(
            inflated.withColumn("v", F.col("id")),
            [F.col("v").asc(), F.col("id").asc()],
            rank_col="rank",
            count_small=2_000_000,
        )
        assert counts == []  # plan built with ZERO count jobs
    finally:
        type(df).count = orig_count
    # (c) exact mode bypasses the estimate gate
    pinned = spark.range(50).localCheckpoint()
    import pytest

    with pytest.raises(ValueError):
        ordered_prefix(
            pinned, [F.col("id").asc()], rank_col="r", count_mode="bogus"
        )
    got = ordered_prefix(
        pinned,
        [F.col("id").asc()],
        rank_col="rank",
        count_small=1_000,
        count_mode="exact",
    )
    assert [r.rank for r in got.orderBy("id").collect()] == list(range(1, 51))


def test_ordered_prefix_rejects_inplace_running_sum(spark, df):
    """out == src would make the stats aggregate read running values
    instead of raw ones (advice r6) — must raise, both mappings."""
    with pytest.raises(ValueError, match="must differ"):
        ordered_prefix(df, _cols(("v:asc", "id:asc")), running_sum={"v": "v"})
    with pytest.raises(ValueError, match="must differ"):
        ordered_prefix(df, _cols(("v:asc", "id:asc")), running_max={"v": "v"})


def test_binned_overlap_join_matches_naive(spark):
    """Binned overlap equi-join == naive inequality join on
    boundary-heavy intervals (touching endpoints must NOT overlap;
    multi-bin overlaps must emit each pair exactly once)."""
    from pyspark.sql import Row

    from datamodel_clinicaldata_spark.operators.joins import binned_overlap_join

    W = 100
    A = [
        Row(k=1, ia=1, sa=0, ea=100),
        Row(k=1, ia=2, sa=50, ea=350),    # spans 4 bins
        Row(k=1, ia=3, sa=100, ea=101),   # touches ia=1 (no overlap)
        Row(k=2, ia=4, sa=0, ea=1000),    # other key
        Row(k=1, ia=5, sa=400, ea=400),   # malformed: dropped
    ]
    B = [
        Row(k=1, ib=1, sb=99, eb=100),    # overlaps ia=1 by 1
        Row(k=1, ib=2, sb=100, eb=300),   # overlaps ia=2 across bins
        Row(k=1, ib=3, sb=340, eb=360),   # tail overlap with ia=2
        Row(k=2, ib=4, sb=500, eb=501),
        Row(k=1, ib=5, sb=1000, eb=2000), # no partner
    ]
    L, R = spark.createDataFrame(A), spark.createDataFrame(B)
    got = binned_overlap_join(L, R, "k", bin_width_us=W)
    naive = L.filter("ea > sa").join(
        R, (L.k == R.k) & (L.sa < R.eb) & (R.sb < L.ea)
    ).drop(R.k)
    g = {(r.ia, r.ib): r.overlap_us for r in got.collect()}
    n = {(r.ia, r.ib) for r in naive.collect()}
    assert set(g) == n
    # exactly-once even for the multi-bin overlap, and exact durations
    assert g[(2, 2)] == 200 and g[(2, 3)] == 10 and g[(1, 1)] == 1
    assert g[(4, 4)] == 1
    assert (1, 2) not in g  # touching endpoints excluded (end exclusive)
