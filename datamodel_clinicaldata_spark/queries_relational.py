"""Operator-level queries over the TPC-H-ish testdata, each with a DuckDB
oracle — one registry entry per operator row of SURVEY.md §2, plus the
wider join/aggregate shapes of the extension surface (§7.6).

Float policy: aggregates over doubles are wrapped in round(x, 4) on BOTH
sides so IEEE accumulation order can't flip the value hash; pick-one
aggregates (first/last/min/max) are bitwise-stable and left unrounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datamodel_clinicaldata_spark.operators.joins import (
    anti_join,
    asof_join,
    range_join,
    semi_join,
)
from datamodel_clinicaldata_spark.registry import register
from datamodel_clinicaldata_spark.sources.readers import read_table


# ---------------------------------------------------------------------------
# Scans / projections / filters (S1, P6, F1-F3)
# ---------------------------------------------------------------------------
@register(
    "scan_filter_project",
    """
    SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_quantity BETWEEN 10 AND 40
    """,
)
def scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+P6+F2: parquet scan with filter+projection pushed into the scan
    (verify with .explain: PushedFilters + 4-column ReadSchema)."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & F.col("l_quantity").between(10, 40)
    ).select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")


@register(
    "filters_composable",
    """
    SELECT c_custkey, c_name, c_mktsegment, c_nationkey, c_acctbal
    FROM customer
    WHERE c_mktsegment = 'BUILDING'
      AND c_acctbal BETWEEN 0 AND 5000
      AND c_nationkey = 5
    """,
)
def filters_composable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1+F2+F3 — the reference filters() signature (categorical equality
    with 'all' passthrough, inclusive BETWEEN, numeric equality) applied via
    the engine's composable filter operator."""
    from datamodel_clinicaldata_spark.operators.relational import filters

    c = read_table(spark, sf_dir, "customer")
    return filters(
        c,
        gender="BUILDING",
        min_age=0,
        max_age=5000,
        clinic_id=5,
        gender_col="c_mktsegment",
        age_col="c_acctbal",
        clinic_col="c_nationkey",
    ).select("c_custkey", "c_name", "c_mktsegment", "c_nationkey", "c_acctbal")


@register(
    "rename_cast_project",
    """
    SELECT event_id,
           CAST(user_id AS VARCHAR) AS uid,
           CAST(ts AS DATE) AS event_date,
           value AS measurement
    FROM events
    """,
)
def rename_cast_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 (bulk rename) + P3/P4 (casts): rename map + typed casts."""
    from datamodel_clinicaldata_spark.operators.relational import rename_columns

    e = read_table(spark, sf_dir, "events")
    e = rename_columns(e, {"value": "measurement"})
    return e.select(
        "event_id",
        F.col("user_id").cast("string").alias("uid"),
        F.col("ts").cast("date").alias("event_date"),
        "measurement",
    )


# ---------------------------------------------------------------------------
# Joins (J1, J2 + extension shapes)
# ---------------------------------------------------------------------------
@register(
    "join_left_dim_fact",
    """
    SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey, o.o_totalprice, o.o_orderpriority
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    """,
)
def join_left_dim_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: left equi-join with 1:N fan-out, preserved-side nulls kept."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left").select(
        "c_custkey", "c_mktsegment", "o_orderkey", "o_totalprice", "o_orderpriority"
    )


@register(
    "join_three_way",
    """
    SELECT n.n_name, r.r_name, c.c_custkey, c.c_acctbal
    FROM customer c
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def join_three_way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: chained left joins; both dims broadcast (shuffle-free at scale)."""
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"], "left")
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"], "left")
        .select("n_name", "r_name", "c_custkey", "c_acctbal")
    )


@register(
    "join_semi",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return semi_join(c, o, c["c_custkey"] == o["o_custkey"]).select("c_custkey", "c_name")


@register(
    "join_anti",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    return anti_join(c, o, c["c_custkey"] == o["o_custkey"]).select("c_custkey", "c_name")


@register(
    "join_range_band",
    """
    SELECT e.event_id, o.o_orderkey
    FROM events e
    JOIN orders o
      ON o.o_custkey = e.user_id
     AND o.o_orderdate >= TIMESTAMP '1998-01-01'
     AND o.o_orderdate <= e.ts
    """,
)
def join_range_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join with an equality conjunct → hash join + band filter."""
    e = read_table(spark, sf_dir, "events")
    o = read_table(spark, sf_dir, "orders")
    return range_join(
        e,
        o,
        o["o_custkey"] == e["user_id"],
        o["o_orderdate"] >= F.lit("1998-01-01").cast("timestamp"),
        o["o_orderdate"] <= e["ts"],
    ).select("event_id", "o_orderkey")


@register(
    "join_asof_backward",
    """
    SELECT event_id, ts, user_id, o_orderkey, o_orderdate
    FROM (
      SELECT e.event_id, e.ts, e.user_id, o.o_orderkey, o.o_orderdate,
             row_number() OVER (PARTITION BY e.event_id
                                ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      FROM events e
      JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    ) WHERE rn = 1
    """,
)
def join_asof_backward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: latest order at-or-before each event's timestamp."""
    e = read_table(spark, sf_dir, "events")
    o = read_table(spark, sf_dir, "orders")
    return asof_join(
        e,
        o,
        left_key="user_id",
        right_key="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        right_cols=["o_orderkey"],
    ).select("event_id", "ts", "user_id", "o_orderkey", "o_orderdate")


@register(
    "join_asof_forward",
    """
    SELECT o_orderkey, o_orderdate, o_custkey, event_id, ts
    FROM (
      SELECT o.o_orderkey, o.o_orderdate, o.o_custkey, e.event_id, e.ts,
             row_number() OVER (PARTITION BY o.o_orderkey
                                ORDER BY e.ts ASC, e.event_id DESC) AS rn
      FROM orders o
      JOIN events e ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    ) WHERE rn = 1
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, forward direction: for each order, the customer's
    earliest event at-or-after the order date (inclusive), ties toward
    the largest event_id. Exercises the reversed-running-frame forward
    branch of ``operators.joins.asof_join`` (O(n) per partition, not the
    O(n²) unbounded-following frame)."""
    e = read_table(spark, sf_dir, "events")
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_custkey"
    )
    return asof_join(
        o,
        e,
        left_key="o_custkey",
        right_key="user_id",
        left_ts="o_orderdate",
        right_ts="ts",
        right_cols=["event_id"],
        direction="forward",
    ).select("o_orderkey", "o_orderdate", "o_custkey", "event_id", "ts")


@register(
    "join_asof_nearest",
    """
    WITH b AS (
      SELECT o_orderkey, event_id, ts FROM (
        SELECT o.o_orderkey, e.event_id, e.ts,
               row_number() OVER (PARTITION BY o.o_orderkey
                                  ORDER BY e.ts DESC, e.event_id DESC) AS rn
        FROM orders o
        JOIN events e ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
      ) WHERE rn = 1
    ), f AS (
      SELECT o_orderkey, event_id, ts FROM (
        SELECT o.o_orderkey, e.event_id, e.ts,
               row_number() OVER (PARTITION BY o.o_orderkey
                                  ORDER BY e.ts ASC, e.event_id DESC) AS rn
        FROM orders o
        JOIN events e ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
      ) WHERE rn = 1
    )
    SELECT o.o_orderkey, o.o_orderdate, o.o_custkey,
           CASE WHEN b.event_id IS NULL THEN f.event_id
                WHEN f.event_id IS NULL THEN b.event_id
                WHEN epoch_us(f.ts) - epoch_us(o.o_orderdate)
                     < epoch_us(o.o_orderdate) - epoch_us(b.ts) THEN f.event_id
                ELSE b.event_id END AS event_id,
           CASE WHEN b.ts IS NULL THEN f.ts
                WHEN f.ts IS NULL THEN b.ts
                WHEN epoch_us(f.ts) - epoch_us(o.o_orderdate)
                     < epoch_us(o.o_orderdate) - epoch_us(b.ts) THEN f.ts
                ELSE b.ts END AS ts
    FROM orders o
    LEFT JOIN b ON b.o_orderkey = o.o_orderkey
    LEFT JOIN f ON f.o_orderkey = o.o_orderkey
    WHERE b.event_id IS NOT NULL OR f.event_id IS NOT NULL
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, nearest direction: for each order, the customer's
    closest event in either time direction; |Δt| ties go to the backward
    (most-recent) row. One shuffle, two O(n) running-frame picks
    (``operators.joins._asof_nearest``)."""
    e = read_table(spark, sf_dir, "events")
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_custkey"
    )
    return asof_join(
        o,
        e,
        left_key="o_custkey",
        right_key="user_id",
        left_ts="o_orderdate",
        right_ts="ts",
        right_cols=["event_id"],
        direction="nearest",
    ).select("o_orderkey", "o_orderdate", "o_custkey", "event_id", "ts")


# ---------------------------------------------------------------------------
# Sorts / distinct (O1, O2)
# ---------------------------------------------------------------------------
@register(
    "multikey_sort",
    """
    SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus, l_shipdate, l_quantity
    FROM lineitem
    ORDER BY l_returnflag, l_linestatus, l_shipdate, l_orderkey, l_linenumber, l_quantity
    """,
)
def multikey_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: 6-key ascending sort (range-partitioned global sort in Spark)."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.orderBy(
        "l_returnflag", "l_linestatus", "l_shipdate", "l_orderkey", "l_linenumber", "l_quantity"
    ).select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus", "l_shipdate", "l_quantity"
    )


@register(
    "distinct_rows",
    "SELECT DISTINCT l_returnflag, l_linestatus, l_shipmode FROM (SELECT l_returnflag, l_linestatus, l_returnflag AS l_shipmode FROM lineitem)",
)
def distinct_rows_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: full-row dedup via the engine's distinct operator."""
    from datamodel_clinicaldata_spark.operators.relational import distinct_rows

    li = read_table(spark, sf_dir, "lineitem")
    proj = li.select(
        "l_returnflag", "l_linestatus", F.col("l_returnflag").alias("l_shipmode")
    )
    return distinct_rows(proj)


# ---------------------------------------------------------------------------
# Windowed metrics on the events stream table (W3-W9 shapes, standalone)
# ---------------------------------------------------------------------------
_EV_SIGMA = "ts ASC NULLS LAST, event_id ASC NULLS LAST"
_FULL = "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"


@register(
    "window_first_last_value",
    f"""
    SELECT DISTINCT user_id,
           first_value(value) OVER w AS first_val,
           last_value(value)  OVER w AS last_val,
           count(*)           OVER w AS n_events
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY {_EV_SIGMA} {_FULL})
    """,
)
def window_first_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4/W5/W6 shape: ordered first/last over an unbounded frame —
    row-preserving transform then collapsed to one row per user."""
    e = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc_nulls_last(), F.col("event_id").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return e.select(
        "user_id",
        F.first("value").over(w).alias("first_val"),
        F.last("value").over(w).alias("last_val"),
        F.count(F.lit(1)).over(w).alias("n_events"),
    ).dropDuplicates()


@register(
    "window_nonnull_count",
    f"""
    SELECT DISTINCT user_id, event_type,
           count(CASE WHEN props IS NOT NULL AND event_type <> 'error' THEN 1 END)
             OVER (PARTITION BY user_id, event_type) AS wir
    FROM events
    """,
)
def window_nonnull_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 shape: non-null count over a cohort-style window."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type")
    marker = F.when(
        F.col("props").isNotNull() & (F.col("event_type") != "error"), F.lit(1)
    )
    return e.select(
        "user_id", "event_type", F.count(marker).over(w).alias("wir")
    ).dropDuplicates()


@register(
    "window_lead_diff",
    f"""
    SELECT event_id, user_id, value,
           value - lead(value) OVER (PARTITION BY user_id ORDER BY {_EV_SIGMA}) AS diff_next
    FROM events
    """,
)
def window_lead_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8 shape: value minus next-row value within a partition (diff(-1))."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_last(), F.col("event_id").asc_nulls_last()
    )
    return e.select(
        "event_id",
        "user_id",
        "value",
        (F.col("value") - F.lead("value").over(w)).alias("diff_next"),
    )


@register(
    "window_running_agg",
    f"""
    SELECT event_id, user_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY {_EV_SIGMA}
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_sum,
           row_number() OVER (PARTITION BY user_id ORDER BY {_EV_SIGMA}) AS rn
    FROM events
    """,
)
def window_running_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate + row_number (explicit ROWS frame, deterministic σ)."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_last(), F.col("event_id").asc_nulls_last()
    )
    return e.select(
        "event_id",
        "user_id",
        F.round(
            F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
            4,
        ).alias("running_sum"),
        F.row_number().over(w).cast("long").alias("rn"),
    )


# ---------------------------------------------------------------------------
# Aggregations (extension surface: TPC-H-style reporting queries)
# ---------------------------------------------------------------------------
@register(
    "agg_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4) AS sum_qty,
           round(sum(l_extendedprice), 4) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: partial aggregation map-side, one
    shuffle on the (low-cardinality) grouping key."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "agg_revenue_by_nation",
    """
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           count(*) AS n_items
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
    """,
)
def agg_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join rollup: fact-fact join shuffles on orderkey; dims broadcast.

    r14 (guide §2.3 "aggregate before you shuffle", verdict r13 #2):
    when ORDERS is too big to broadcast — the planner's own estimate,
    via ``fits_auto_broadcast`` — lineitem is pre-aggregated by
    l_orderkey BELOW the join, cutting the orderkey shuffle 4.07:1 in
    rows (measured across all three SFs) and shrinking everything the
    customer join and final rollup carry. While orders broadcasts (all
    bench/oracle SFs), the flat shape is kept bit-for-bit: lineitem
    never shuffles there, so a pre-aggregate would ADD the plan's only
    fact-sized exchange — and the float sum keeps its exact r13
    accumulation order (hash stability). The pre-agg branch's
    regrouped float sum agrees with the flat branch to well below the
    4-dp rounding at every test SF (pinned in
    tests/test_adaptive_shapes.py)."""
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = read_table(spark, sf_dir, "lineitem")
    n = read_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    from datamodel_clinicaldata_spark.operators.partitioning import (
        fits_auto_broadcast,
    )

    if fits_auto_broadcast(o):
        fact = li.join(o, li["l_orderkey"] == o["o_orderkey"])
        rev_sum, n_items = F.sum(rev), F.count(F.lit(1))
    else:
        per_order = li.groupBy("l_orderkey").agg(
            F.sum(rev).alias("__rev"),
            F.count(F.lit(1)).alias("__n"),
        )
        fact = per_order.join(o, per_order["l_orderkey"] == o["o_orderkey"])
        rev_sum, n_items = F.sum("__rev"), F.sum("__n").cast("long")
    return (
        fact.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.round(rev_sum, 4).alias("revenue"),
            n_items.alias("n_items"),
        )
    )


@register(
    "agg_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4) AS sum_qty, count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets (rollup lattice) — single pass, Expand operator."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_distinct_count",
    """
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS n_customers,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (two-phase Expand+agg in Spark)."""
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "topk_orders_per_priority",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders
    ) WHERE rn <= 5
    """,
)
def topk_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via row_number (deterministic tiebreak on key) —
    Spark plans a partial top-k sort per partition before the shuffle."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# Set operations / pivot / quantiles / SQL surface (extension §7.6)
# ---------------------------------------------------------------------------
@register(
    "set_ops_union_intersect_except",
    """
    WITH a AS (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'),
         b AS (SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT')
    SELECT k, 'union' AS op FROM (SELECT k FROM a UNION SELECT k FROM b)
    UNION ALL
    SELECT k, 'intersect' AS op FROM (SELECT k FROM a INTERSECT SELECT k FROM b)
    UNION ALL
    SELECT k, 'except' AS op FROM (SELECT k FROM a EXCEPT SELECT k FROM b)
    """,
)
def set_ops_union_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT (distinct set semantics) in one result,
    tagged by op. Each set op is a hash aggregate/join on the key — the
    three branches share the two base scans (Spark reuses the exchange)."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select(F.col("c_custkey").alias("k"))
    b = o.filter(F.col("o_orderpriority") == "1-URGENT").select(F.col("o_custkey").alias("k"))
    tag = lambda df, op: df.select("k", F.lit(op).alias("op"))  # noqa: E731
    return (
        tag(a.union(b).distinct(), "union")
        .unionAll(tag(a.intersect(b), "intersect"))
        # subtract = set-semantics EXCEPT regardless of input multiplicity
        # (exceptAll removes only one occurrence per match, so it is only
        # accidentally correct when the left side is already unique).
        .unionAll(tag(a.subtract(b), "except"))
    )


@register(
    "pivot_event_type_counts",
    """
    SELECT user_id,
           count(*) FILTER (event_type = 'click')    AS click,
           count(*) FILTER (event_type = 'view')     AS view,
           count(*) FILTER (event_type = 'purchase') AS purchase,
           count(*) FILTER (event_type = 'signup')   AS signup,
           count(*) FILTER (event_type = 'error')    AS error
    FROM events
    GROUP BY user_id
    """,
)
def pivot_event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): per-user count matrix over event types. The
    explicit value list keeps it a single-pass groupBy (no extra distinct
    scan to discover pivot values); absent combinations are 0 like the
    SQL FILTER form."""
    e = read_table(spark, sf_dir, "events")
    kinds = ["click", "view", "purchase", "signup", "error"]
    return (
        e.groupBy("user_id")
        .pivot("event_type", kinds)
        .count()
        .na.fill(0, kinds)
        .select("user_id", *[F.col(k).cast("long").alias(k) for k in kinds])
    )


@register(
    "quantiles_exact",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
           round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles per group (Spark
    ``percentile`` == DuckDB ``quantile_cont``). The exact form needs the
    group's values collected per partition — fine at dim-key cardinality;
    the sketch-based scale path is ``approx_percentile`` (not
    oracle-comparable across engines by construction)."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        *[
            F.round(F.percentile("l_extendedprice", p), 4).alias(name)
            for p, name in [(0.5, "p50"), (0.9, "p90"), (0.99, "p99")]
        ]
    )


_SQL_SHIPPING_PRIORITY = """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders    ON c_custkey = o_custkey
    JOIN lineitem  ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15'
      AND l_shipdate  > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate
"""


@register("sql_shipping_priority", _SQL_SHIPPING_PRIORITY)
def sql_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL surface: the engine registers the testdata as temp views
    and executes ANSI text directly (TPC-H Q3 shape) — the identical
    string runs on DuckDB as its own oracle. Catalyst gets the same
    logical plan as the DataFrame API (broadcast dims, one fact shuffle)."""
    from datamodel_clinicaldata_spark.sources.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_SHIPPING_PRIORITY)


@register(
    "json_extract_props",
    """
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS prop_k,
           event_type
    FROM events
    WHERE CAST(json_extract(props, '$.k') AS BIGINT) > 50
    """,
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column: JSON path extraction + typed filter over the
    events ``props`` payload (``get_json_object`` stays JVM-side; at scale
    prefer parsing ONCE with ``from_json`` into a struct column when
    several fields are read)."""
    e = read_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return e.select("event_id", k.alias("prop_k"), "event_type").filter(
        F.col("prop_k") > 50
    )


@register(
    "window_rolling_24h",
    """
    SELECT event_id, user_id, ts,
           count(*) OVER w AS n_24h,
           round(sum(value) OVER w, 4) AS sum_24h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
    """,
)
def window_rolling_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based rolling window: per-user trailing-24h event count and
    value sum. Spark range frames need a numeric ordering key; it must be
    epoch MICROSECONDS on both sides — ordering by epoch seconds while
    the oracle ranges over full-precision timestamps flips membership for
    pairs within 1s of the 24h edge (surfaced at sf0.1, where boundary
    collisions first appear). Inclusive bounds, peers share results."""
    e = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-24 * 3600 * 1_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_24h"),
        F.round(F.sum("value").over(w), 4).alias("sum_24h"),
    )


@register(
    "funnel_signup_click_purchase",
    """
    WITH steps AS (
      SELECT user_id,
             min(ts) FILTER (event_type = 'signup')   AS t_signup,
             min(ts) FILTER (event_type = 'click')    AS t_click,
             min(ts) FILTER (event_type = 'purchase') AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT user_id, t_signup, t_click, t_purchase,
           (t_signup IS NOT NULL AND t_click > t_signup
            AND t_purchase > t_click) AS converted
    FROM steps
    WHERE t_signup IS NOT NULL
    """,
)
def funnel_signup_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis: earliest signup → later click → later purchase per
    user, one conditional-aggregation pass (no self-joins; NULL step
    timestamps make `converted` NULL exactly as in the SQL twin)."""
    e = read_table(spark, sf_dir, "events")
    step = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))  # noqa: E731
    s = e.groupBy("user_id").agg(
        step("signup").alias("t_signup"),
        step("click").alias("t_click"),
        step("purchase").alias("t_purchase"),
    )
    return s.filter(F.col("t_signup").isNotNull()).select(
        "user_id",
        "t_signup",
        "t_click",
        "t_purchase",
        (
            F.col("t_signup").isNotNull()
            & (F.col("t_click") > F.col("t_signup"))
            & (F.col("t_purchase") > F.col("t_click"))
        ).alias("converted"),
    )


@register(
    "string_functions",
    """
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           substr(c_name, 1, 8) AS name_prefix,
           length(c_name) AS name_len,
           regexp_extract(c_name, '([0-9]+)', 1) AS name_digits,
           concat(c_mktsegment, '#', CAST(c_nationkey AS VARCHAR)) AS seg_key,
           replace(c_mktsegment, 'A', '_') AS seg_repl
    FROM customer
    """,
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function bundle (upper/substr/length/regexp_extract/concat/
    replace) — byte-identical across engines on ASCII data."""
    c = read_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").cast("long").alias("name_len"),
        F.regexp_extract("c_name", r"([0-9]+)", 1).alias("name_digits"),
        F.concat_ws("#", "c_mktsegment", F.col("c_nationkey").cast("string")).alias("seg_key"),
        F.replace(F.col("c_mktsegment"), F.lit("A"), F.lit("_")).alias("seg_repl"),
    )


@register(
    "null_semantics",
    """
    SELECT e.event_id,
           coalesce(o.o_totalprice, 0.0) AS price_or_zero,
           nullif(e.event_type, 'error') AS type_or_null,
           (o.o_orderkey IS NOT DISTINCT FROM NULL) AS no_order,
           CASE WHEN o.o_totalprice > 200000 THEN 'big'
                WHEN o.o_totalprice IS NULL THEN 'none'
                ELSE 'small' END AS bucket
    FROM events e
    LEFT JOIN (SELECT o_custkey, min(o_orderkey) AS o_orderkey,
                      round(min(o_totalprice), 4) AS o_totalprice
               FROM orders GROUP BY o_custkey) o
      ON o.o_custkey = e.user_id
    """,
)
def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued-logic bundle: coalesce, nullif, null-safe equality
    (<=> / IS NOT DISTINCT FROM), CASE with NULL branches over left-join
    null rows — the semantics the all-null loginId column (SURVEY §1.2)
    makes load-bearing."""
    e = read_table(spark, sf_dir, "events")
    o = (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.min("o_orderkey").alias("o_orderkey"),
            F.round(F.min("o_totalprice"), 4).alias("o_totalprice"),
        )
    )
    j = e.join(o, o["o_custkey"] == e["user_id"], "left")
    return j.select(
        "event_id",
        F.coalesce("o_totalprice", F.lit(0.0)).alias("price_or_zero"),
        F.nullif(F.col("event_type"), F.lit("error")).alias("type_or_null"),
        F.col("o_orderkey").eqNullSafe(F.lit(None)).alias("no_order"),
        F.when(F.col("o_totalprice") > 200000, "big")
        .when(F.col("o_totalprice").isNull(), "none")
        .otherwise("small")
        .alias("bucket"),
    )


# ---------------------------------------------------------------------------
# TPC-H-style analytical pack (q4/q6/q10/q14/q18 shapes adapted to the
# driver testdata schema — lineitem has no commit/receipt dates or shipmode,
# so q4's "late" predicate is l_shipdate > o_orderdate + 30 days).
# ---------------------------------------------------------------------------
@register(
    "agg_order_priority_late",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o.o_orderkey
        AND l_shipdate > o.o_orderdate + INTERVAL 30 DAY
    )
    GROUP BY o_orderpriority
    """,
)
def agg_order_priority_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q4 shape: EXISTS decorrelated to a left-semi join (no fan-out:
    an order with five late lines still counts once), then hash agg."""
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = semi_join(
        o,
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
    )
    return late.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("order_count")
    )


@register(
    "agg_revenue_forecast",
    """
    SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def agg_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q6 shape: pure scan-filter-aggregate — every predicate reaches
    the parquet scan (PushedFilters), single-row global agg, no shuffle of
    any width (partial agg → 1-row exchange)."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
                "revenue"
            ),
            F.count("*").cast("long").alias("n_lines"),
        )
    )


@register(
    "topk_returned_customers",
    """
    SELECT c_custkey, c_name,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)
def topk_returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q10 shape: returned-lines fact filtered at the scan, aggregated
    to customer grain BEFORE joining the customer dim (smallest shuffle),
    then global top-20 as TakeOrderedAndProject (no full sort). The
    customer-dim join is left to the planner: statically broadcast here
    (parquet size stats), shuffle at dim sizes beyond the threshold —
    forcing F.broadcast on a dim that scales with SF would OOM the
    executors at 100 TB."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    # r14 (guide §2.3, verdict r13 #2): while orders broadcasts (every
    # bench/oracle SF) lineitem never shuffles — keep the flat r13 shape
    # bit-for-bit (same float accumulation order ⇒ same hash). Past
    # broadcast scale the flat plan shuffles raw returned lines by
    # orderkey; the pre-aggregated branch sums revenue per l_orderkey
    # below the join (~4:1 row cut through the orderkey exchange, the
    # agg_revenue_by_nation treatment). The regrouped float sum agrees
    # with the flat branch to well below the 4-dp rounding on testdata
    # (pinned in tests/test_adaptive_shapes.py).
    from datamodel_clinicaldata_spark.operators.partitioning import (
        fits_auto_broadcast,
    )

    returned = li.filter(F.col("l_returnflag") == "R")
    line_rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    if fits_auto_broadcast(o.select("o_orderkey", "o_custkey")):
        fact, rev_sum = returned, F.sum(line_rev)
    else:
        fact = returned.groupBy("l_orderkey").agg(F.sum(line_rev).alias("__rev"))
        rev_sum = F.sum("__rev")
    rev = (
        fact.join(o.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(F.round(rev_sum, 4).alias("revenue"))
    )
    return (
        rev.join(c.select("c_custkey", "c_name"), F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "revenue")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@register(
    "agg_promo_revenue",
    """
    SELECT round(sum(CASE WHEN p_type = 'PROMO'
                          THEN l_extendedprice * (1 - l_discount)
                          ELSE 0 END), 4) AS promo_revenue,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1996-04-01'
    """,
)
def agg_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q14 shape: conditional aggregation over a fact⋈dim join.
    Numerator and denominator are emitted separately (not the ratio):
    deliberate — a quotient of two rounded sums lands on half-ties where
    JVM and DuckDB rounding modes disagree (see module float policy)."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
        )
        .join(p, F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            F.round(
                F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(0.0)), 4
            ).alias("promo_revenue"),
            F.round(F.sum(disc), 4).alias("total_revenue"),
        )
    )


@register(
    "agg_large_volume_customers",
    """
    WITH big AS (
      SELECT l_orderkey, sum(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300
    )
    SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
           round(sum_qty, 4) AS sum_qty
    FROM big
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
)
def agg_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q18 shape: HAVING on a fact rollup, then join the survivors
    (selectivity-bounded after the filter) back to orders/customer. The
    join strategy is left to the planner: survivors still scale with SF
    (~0.3% of orders), so a forced broadcast would eventually OOM; the
    static planner/AQE broadcasts from measured sizes while small."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty_raw"))
        .filter(F.col("sum_qty_raw") > 300)
        .select("l_orderkey", F.round("sum_qty_raw", 4).alias("sum_qty"))
    )
    return (
        o.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
    )


# ---------------------------------------------------------------------------
# Sketch aggregates — the 100 TB path for cardinality / quantiles. At scale
# exact distinct is a full shuffle of the key universe and exact quantiles
# a global sort; HLL++ / KLL-style sketches are fixed-size, mergeable,
# one-pass map-side state. Sketch values are engine-specific, so each
# query returns exact group figures beside flags that the sketch is within
# its error bound; the bounds are also pinned in tests.
# ---------------------------------------------------------------------------
@register(
    "agg_approx_distinct_sketch",
    """
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS sketch_ok
    FROM events GROUP BY event_type
    """,
)
def agg_approx_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct users per event type (rsd 1%) — constant
    memory per group vs the O(distinct) hash set of exact count-distinct;
    sketches merge associatively so partial aggregation stays map-side.

    The sketch VALUE is engine-specific (DuckDB's HLL ≠ Spark's HLL++),
    so the oracle checks the strongest cross-engine-stable property
    instead: group keys, exact cardinalities, and ``sketch_ok`` — the
    sketch landing within 3·rsd of the exact count. HLL++ is
    deterministic for a given input, so the boolean is stable, and a
    sketch regression flips the row red. (The exact count-distinct here
    is test scaffolding; the sketch is the 100 TB operator.)"""
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").cast("long").alias("exact_users"),
            F.approx_count_distinct("user_id", 0.01).alias("__approx"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("__approx") - F.col("exact_users"))
                <= F.lit(3 * 0.01) * F.col("exact_users")
            ).alias("sketch_ok"),
        )
    )


@register(
    "quantiles_approx_sketch",
    """
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           TRUE AS p25_ok, TRUE AS p50_ok, TRUE AS p75_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def quantiles_approx_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna approximate percentiles of l_extendedprice per
    return flag (accuracy 10000 ⇒ ε=1e-4) — bounded state and one pass vs
    the exact path's per-group sort.

    Sketch values are engine-specific, so the oracle checks the GK rank
    contract instead: each returned value's rank interval
    ``[count(<v)+1, count(<=v)]`` must overlap the target rank band
    ``(p ± ε)·n`` (±1 row cushion for rank-definition differences).
    Deterministic for a given input; a sketch regression flips the row
    red. The rank-count join is test scaffolding — the sketch is the
    100 TB operator."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    eps = 1.0 / 10000
    pq = li.groupBy("l_returnflag").agg(
        F.percentile_approx(
            "l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)), 10000
        ).alias("pq")
    )
    j = li.join(F.broadcast(pq), "l_returnflag")
    agg = j.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[
            s
            for i in range(3)
            for s in (
                F.sum(
                    (F.col("l_extendedprice") < F.col("pq")[i]).cast("long")
                ).alias(f"__lt{i}"),
                F.sum(
                    (F.col("l_extendedprice") <= F.col("pq")[i]).cast("long")
                ).alias(f"__le{i}"),
            )
        ],
    )

    def ok(i: int, p: float):
        lo = (F.lit(p - eps) * F.col("n")) - F.lit(1.0)
        hi = (F.lit(p + eps) * F.col("n")) + F.lit(1.0)
        return (F.col(f"__le{i}") >= lo) & ((F.col(f"__lt{i}") + 1) <= hi)

    return agg.select(
        "l_returnflag",
        "n",
        ok(0, 0.25).alias("p25_ok"),
        ok(1, 0.50).alias("p50_ok"),
        ok(2, 0.75).alias("p75_ok"),
    )


@register(
    "quantiles_kll_sketch",
    """
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           TRUE AS p25_ok, TRUE AS p50_ok, TRUE AS p75_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def quantiles_kll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL sketch percentiles of l_extendedprice per return flag — the
    modern mergeable quantile sketch (Karnin-Lang-Liberty, FOCS'16; Apache
    DataSketches): unlike GK it is fully mergeable with no accuracy loss,
    so partial aggregation stays map-side and a 100 TB rollup can keep
    per-partition sketches and merge them in the reduce, or persist them
    for later cross-dataset merging (the property GK lacks).

    Same oracle contract as ``quantiles_approx_sketch``: sketch bytes are
    engine-specific, so the check is the rank interval
    ``[count(<v)+1, count(<=v)]`` overlapping the target band
    ``(p ± ε)·n`` with ε = 2.66%·1.5 (k=200 normalized rank error at
    ~99% confidence per the DataSketches error table, with headroom —
    KLL is randomized internally but Spark seeds it deterministically
    per input) plus the ±1-row rank-definition cushion."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    eps = 0.0266 * 1.5
    pq = li.groupBy("l_returnflag").agg(
        F.expr("kll_sketch_agg_double(l_extendedprice, 200)").alias("sk")
    )
    pq = pq.select(
        "l_returnflag",
        F.expr(
            "kll_sketch_get_quantile_double(sk, array(0.25D, 0.5D, 0.75D))"
        ).alias("pq"),
    )
    j = li.join(F.broadcast(pq), "l_returnflag")
    agg = j.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[
            s
            for i in range(3)
            for s in (
                F.sum(
                    (F.col("l_extendedprice") < F.col("pq")[i]).cast("long")
                ).alias(f"__lt{i}"),
                F.sum(
                    (F.col("l_extendedprice") <= F.col("pq")[i]).cast("long")
                ).alias(f"__le{i}"),
            )
        ],
    )

    def ok(i: int, p: float):
        lo = (F.lit(p - eps) * F.col("n")) - F.lit(1.0)
        hi = (F.lit(p + eps) * F.col("n")) + F.lit(1.0)
        return (F.col(f"__le{i}") >= lo) & ((F.col(f"__lt{i}") + 1) <= hi)

    return agg.select(
        "l_returnflag",
        "n",
        ok(0, 0.25).alias("p25_ok"),
        ok(1, 0.50).alias("p50_ok"),
        ok(2, 0.75).alias("p75_ok"),
    )


@register(
    "agg_theta_sketch_overlap",
    """
    WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
         ty AS (SELECT DISTINCT event_type FROM events)
    SELECT ta.event_type AS type_a, tb.event_type AS type_b,
           CAST((SELECT count(*) FROM tu WHERE tu.event_type = ta.event_type)
                AS BIGINT) AS users_a,
           CAST((SELECT count(*) FROM tu WHERE tu.event_type = tb.event_type)
                AS BIGINT) AS users_b,
           CAST((SELECT count(*) FROM tu x JOIN tu y ON x.user_id = y.user_id
                 WHERE x.event_type = ta.event_type
                   AND y.event_type = tb.event_type) AS BIGINT) AS users_both,
           TRUE AS sketch_ok
    FROM ty ta JOIN ty tb ON ta.event_type < tb.event_type
    """,
)
def agg_theta_sketch_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between every pair of event types via Theta
    sketches — the set-algebra sketch family: unlike HLL, theta sketches
    support INTERSECTION and DIFFERENCE, so "users who did A and B" needs
    one sketch per type (constant memory, mergeable map-side) instead of
    a user-level distinct + self-join. At 100 TB the self-join shuffles
    |distinct users| rows per pair; the sketch path shuffles one 4 KB
    blob per type and intersects on the driver side of the agg — the
    standard audience/reach architecture (Apache DataSketches).

    Sketch BYTES are engine-specific, so like the HLL/GK rows the oracle
    checks exact cardinalities (scaffolding self-join) plus ``sketch_ok``:
    every estimate within 3·rsd bands (rsd = 1/√2¹² for lgK=12; the
    intersection band scales with the UNION size per DataSketches error
    analysis). At the test SFs the per-type sets are under the 4096-entry
    nominal, so the sketches run in exact mode and the boolean is exactly
    deterministic; estimation mode is the 100 TB path."""
    e = read_table(spark, sf_dir, "events")
    sk = e.groupBy("event_type").agg(
        F.expr("theta_sketch_agg(user_id, 12)").alias("sk"),
        F.count_distinct("user_id").cast("long").alias("exact_users"),
    )
    a = sk.select(
        F.col("event_type").alias("type_a"),
        F.col("sk").alias("sk_a"),
        F.col("exact_users").alias("users_a"),
    )
    b = sk.select(
        F.col("event_type").alias("type_b"),
        F.col("sk").alias("sk_b"),
        F.col("exact_users").alias("users_b"),
    )
    # ≤ handful of event types: broadcast pair enumeration, never a shuffle
    pairs = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
    # exact overlap scaffolding (the oracle's ground truth)
    tu = e.select("event_type", "user_id").distinct()
    both = (
        tu.alias("x")
        .join(tu.alias("y"), F.col("x.user_id") == F.col("y.user_id"))
        .filter(F.col("x.event_type") < F.col("y.event_type"))
        .groupBy(
            F.col("x.event_type").alias("type_a"),
            F.col("y.event_type").alias("type_b"),
        )
        .agg(F.count("*").cast("long").alias("users_both"))
    )
    rsd = 3 * (1.0 / (2**12) ** 0.5)
    est_a = F.expr("theta_sketch_estimate(sk_a)")
    est_b = F.expr("theta_sketch_estimate(sk_b)")
    est_both = F.expr("theta_sketch_estimate(theta_intersection(sk_a, sk_b))")
    est_union = F.expr("theta_sketch_estimate(theta_union(sk_a, sk_b))")
    union_exact = F.col("users_a") + F.col("users_b") - F.col("users_both")
    return (
        pairs.join(both, ["type_a", "type_b"], "left")
        .withColumn("users_both", F.coalesce(F.col("users_both"), F.lit(0)))
        .select(
            "type_a",
            "type_b",
            "users_a",
            "users_b",
            "users_both",
            (
                (F.abs(est_a - F.col("users_a")) <= F.lit(rsd) * F.col("users_a"))
                & (F.abs(est_b - F.col("users_b")) <= F.lit(rsd) * F.col("users_b"))
                & (F.abs(est_both - F.col("users_both")) <= F.lit(rsd) * union_exact)
                & (F.abs(est_union - union_exact) <= F.lit(rsd) * union_exact)
            ).alias("sketch_ok"),
        )
    )


@register(
    "agg_statistical_moments",
    """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(l_quantity), 4) AS mean_qty,
           round(stddev_samp(l_quantity), 4) AS sd_qty,
           round(var_samp(l_quantity), 4) AS var_qty,
           round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_statistical_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (stddev/variance/correlation/covariance) —
    single-pass Welford-style accumulators in both engines, partial-agg
    friendly (the shuffle carries constant-size moment state per group).
    avg is hashable here because l_quantity is integral-valued, so
    sum/count quotients cannot land on decimal half-ties."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.avg("l_quantity"), 4).alias("mean_qty"),
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "covar_qty_price"
        ),
    )


@register(
    "window_rank_functions",
    """
    SELECT o_orderkey, o_orderpriority,
           rank()         OVER w AS rnk,
           dense_rank()   OVER w AS drnk,
           percent_rank() OVER w AS prnk,
           cume_dist()    OVER w AS cdist,
           ntile(4) OVER (PARTITION BY o_orderpriority
                          ORDER BY o_orderdate, o_orderkey) AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate)
    """,
)
def window_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ranking-function family. rank/dense_rank/percent_rank/cume_dist
    order by o_orderdate alone — they are tie-aware (functions of the key
    VALUE, deterministic under duplicate dates); ntile is row-position-
    dependent, so its window adds the unique o_orderkey tiebreaker.
    percent_rank/cume_dist are single int/int divisions — bit-identical
    across engines, hashed unrounded."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_orderdate")
    wt = Window.partitionBy("o_orderpriority").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cdist"),
        F.ntile(4).over(wt).alias("quartile"),
    )


@register(
    "scd2_user_value_history",
    """
    SELECT user_id, value, event_type, ts AS valid_from,
           lead(ts) OVER w AS valid_to,
           lead(ts) OVER w IS NULL AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY ts, value NULLS LAST, event_type NULLS LAST)
    """,
)
def scd2_user_value_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type 2: the per-user event stream as a validity-interval
    history (valid_from/valid_to chained by lead; NULL valid_to = current
    row). One window pass after the key shuffle."""
    from datamodel_clinicaldata_spark.operators.temporal import scd2_history

    e = read_table(spark, sf_dir, "events")
    return scd2_history(e.select("user_id", "ts", "value", "event_type"))


@register(
    "merge_upsert_customers",
    """
    WITH src AS (
      SELECT c_custkey + CASE WHEN c_nationkey < 3 THEN 1000000 ELSE 0 END
               AS c_custkey,
             c_name, c_nationkey,
             round(c_acctbal + 1000, 2) AS c_acctbal,
             'UPDATED' AS c_mktsegment
      FROM customer WHERE c_nationkey < 10
    )
    SELECT coalesce(t.c_custkey, s.c_custkey) AS c_custkey,
           CASE WHEN s.c_custkey IS NOT NULL THEN s.c_name ELSE t.c_name END
             AS c_name,
           CASE WHEN s.c_custkey IS NOT NULL THEN s.c_nationkey
                ELSE t.c_nationkey END AS c_nationkey,
           CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal
                ELSE t.c_acctbal END AS c_acctbal,
           CASE WHEN s.c_custkey IS NOT NULL THEN s.c_mktsegment
                ELSE t.c_mktsegment END AS c_mktsegment
    FROM customer t FULL OUTER JOIN src s ON t.c_custkey = s.c_custkey
    """,
)
def merge_upsert_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type 1 merge: an update batch (shifted keys for the insert
    path, bumped balances for the update path) merged into the customer
    snapshot — MERGE INTO semantics as full-outer join + row-level pick,
    source side winning."""
    from datamodel_clinicaldata_spark.operators.temporal import upsert_snapshot

    c = read_table(spark, sf_dir, "customer")
    src = c.filter(F.col("c_nationkey") < 10).select(
        (
            F.col("c_custkey")
            + F.when(F.col("c_nationkey") < 3, 1000000).otherwise(0)
        ).alias("c_custkey"),
        "c_name",
        "c_nationkey",
        F.round(F.col("c_acctbal") + 1000, 2).alias("c_acctbal"),
        F.lit("UPDATED").alias("c_mktsegment"),
    )
    return upsert_snapshot(c, src, key_col="c_custkey")


@register(
    "join_salted_skew",
    """
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 4) AS total_price
    FROM orders JOIN customer ON c_custkey = o_custkey
    GROUP BY 1
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-busting salted equi-join under the value gate: the fact side
    gets a deterministic row-hash salt in [0, 8), the dim side is
    replicated ×8, and the join key becomes (key, salt) so one hot key's
    rows spread over 8 reducers (``operators.joins.salted_join`` — the
    tool when a single KEY is hot, which AQE's partition-splitting cannot
    spread for a sort-merge join). Salting is semantically transparent,
    so the oracle is the plain join + aggregate; the display sum is
    grid-anchored money (COVERAGE.md rounding rule 2)."""
    from datamodel_clinicaldata_spark.operators.joins import salted_join

    o = read_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = salted_join(o, c, "o_custkey", "c_custkey", salt=8)
    return j.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("total_price"),
    )


@register(
    "nested_collect_sorted",
    """
    SELECT o_orderpriority,
           array_to_string(list_sort(list_distinct(array_agg(o_orderstatus))),
                           '|') AS statuses,
           CAST(count(*) AS BIGINT) AS n
    FROM orders GROUP BY o_orderpriority
    """,
)
def nested_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-type aggregation: per-group sorted distinct collection.
    collect_set + array_sort — the only deterministic way to compare a
    collected array (bare collect_list order is partition-dependent) —
    then array_join'd to a '|'-delimited string so the driver's pandas
    canonicalizer can hash it (raw list-typed columns are unhashable in
    its sort; the r3 row died with TypeError there, not in the query).
    The array-typed variant stays pinned in tests/test_relational.py."""
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.array_join(F.array_sort(F.collect_set("o_orderstatus")), "|").alias(
            "statuses"
        ),
        F.count("*").cast("long").alias("n"),
    )


@register(
    "nested_posexplode_tokens",
    """
    SELECT doc_id,
           unnest(range(0, len(string_split_regex(trim(text), '\\s+'))))
             AS pos,
           unnest(string_split_regex(trim(text), '\\s+')) AS tok
    FROM documents WHERE doc_id < 50
    """,
)
def nested_posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinality-preserving explode (posexplode ↔ DuckDB's zipped
    unnests) — the lateral-view shape for order-sensitive token work."""
    from datamodel_clinicaldata_spark.functions.text import tokens

    d = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return d.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    ).withColumn("pos", F.col("pos").cast("long"))


@register(
    "agg_nation_trade_volume",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS BIGINT) AS ship_year,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS volume,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE n1.n_name <> n2.n_name
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1, 2, 3
    """,
)
def agg_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q7 shape: cross-nation trade volumes — the fact joins two
    key-bearing dims (supplier, via orders→customer) and the fixed
    25-row nation dim twice under different roles. Nation broadcasts
    (constant size at any SF); supplier/customer joins are left to the
    planner."""
    li = read_table(spark, sf_dir, "lineitem")
    su = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = read_table(spark, sf_dir, "nation")
    n1 = F.broadcast(n.select(F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(n.select(F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("cust_nation")))
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
        )
        .join(su, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(n1, F.col("nk1") == F.col("s_nationkey"))
        .join(n2, F.col("nk2") == F.col("c_nationkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("ship_year"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("volume"),
            F.count("*").cast("long").alias("n_lines"),
        )
    )


@register(
    "agg_market_share",
    """
    SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
           CAST(sum(CASE WHEN n2.n_name = 'NATION_1'
                         THEN CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                              * CAST(floor((1 - l_discount) * 100 + 0.5) AS BIGINT)
                         ELSE 0 END) AS BIGINT) / 10000.0 AS nation_volume,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                    * CAST(floor((1 - l_discount) * 100 + 0.5) AS BIGINT))
                AS BIGINT) / 10000.0 AS total_volume
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON n1.n_nationkey = c_nationkey
    JOIN region   ON r_regionkey = n1.n_regionkey
    JOIN nation n2 ON n2.n_nationkey = s_nationkey
    WHERE p_type = 'PROMO' AND r_name = 'EUROPE'
    GROUP BY 1
    """,
)
def agg_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q8 shape: seven-table join tree (the suite's widest) — a
    supplier nation's share of PROMO volume sold into one region.
    Numerator/denominator emitted separately (module float policy: never
    hash a quotient of rounded sums) and summed in INTEGER 10⁻⁴-dollar
    units (advice r5 #4: these sums feed a volume-share ratio downstream,
    the amplifying shape, and 2-decimal price × 2-decimal discount is
    exact in fixed point — the float sum was combine-order-dependent).
    One division by 10⁴ at output. part/supplier/customer filters reach
    their scans; nation/region broadcast."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    su = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n1 = F.broadcast(
        n.join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")).select(
            F.col("n_nationkey").alias("nk_cust")
        )
    )
    n2 = F.broadcast(n.select(F.col("n_nationkey").alias("nk_supp"), F.col("n_name").alias("supp_nation")))
    r4 = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long") * F.floor(
        (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("long")
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(su, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(n1, F.col("nk_cust") == F.col("c_nationkey"))
        .join(n2, F.col("nk_supp") == F.col("s_nationkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("order_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_1", r4).otherwise(F.lit(0))
                ).cast("long")
                / 10000.0
            ).alias("nation_volume"),
            (F.sum(r4).cast("long") / 10000.0).alias("total_volume"),
        )
    )


@register(
    "retention_cohort_matrix",
    """
    WITH cohort AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY 1
    ), activity AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS activity_week
      FROM events
    )
    SELECT c.cohort_week,
           CAST(date_diff('day', c.cohort_week, a.activity_week) / 7 AS BIGINT)
             AS week_offset,
           CAST(count(*) AS BIGINT) AS n_users
    FROM activity a JOIN cohort c ON a.user_id = c.user_id
    GROUP BY 1, 2
    """,
)
def retention_cohort_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — users bucketed by first-activity week,
    counted per week-offset of later activity. The canonical
    product-analytics rollup at event-log scale: one user-grain
    aggregate (cohort assignment), one distinct over (user, week), a
    user-key join that reuses the same hash partitioning, and a final
    small aggregate on (cohort, offset). Week truncations are
    Monday-aligned in both engines, so day deltas are exact multiples of
    7 and the /7 is exact (no float rounding divergence)."""
    e = read_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", "ts").alias("w")
    )
    cohort = e.groupBy("user_id").agg(F.min("w").alias("cohort_week"))
    activity = e.distinct().withColumnRenamed("w", "activity_week")
    return (
        activity.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("activity_week", "cohort_week") / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count("*").cast("long").alias("n_users"))
    )


@register(
    "unpivot_part_metrics",
    """
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value
    FROM part WHERE p_partkey < 500
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value
    FROM part WHERE p_partkey < 500
    """,
)
def unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide part metrics to (key, metric, value) long
    form — the inverse of pivot, a projection-only reshape (no shuffle;
    each input row emits one row per value column, the UNION ALL the
    oracle spells out explicitly). Values are raw column doubles, so the
    hash needs no rounding."""
    p = read_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 500)
    return p.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        "p_retailprice",
    ).unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@register(
    "sessionize_events_batch",
    """
    WITH o AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 21600000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ), s AS (
      SELECT user_id, event_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id
                              ORDER BY epoch_us(ts), event_id
                              ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM o
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           CAST(count(*) AS BIGINT) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end,
           CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS duration_us,
           round(sum(value), 4) AS sum_value
    FROM s GROUP BY user_id, session_seq
    """,
)
def sessionize_events_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: per-user gap-based sessions (new session
    when > 6h since the previous event) via the classic lag → running-sum
    pattern — ONE shuffle on user_id serves the lag, the running sum and
    the final per-session rollup (all three share the partitioning, so
    Catalyst plans a single exchange). Ordering ties on (epoch_us, event_id)
    keep lag deterministic when two events share a timestamp. The
    streaming twin is ``stream_session_windows``; this is the batch
    (backfill) path of the same semantics."""
    e = read_table(spark, sf_dir, "events")
    order = [F.unix_micros("ts").asc(), F.col("event_id").asc()]
    w = Window.partitionBy("user_id").orderBy(*order)
    gap_us = 6 * 3600 * 1_000_000
    new_s = F.when(
        F.lag("ts").over(w).isNull()
        | (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)) > gap_us),
        1,
    ).otherwise(0)
    s = e.select("user_id", "event_id", "ts", "value").withColumn(
        "session_seq",
        F.sum(new_s).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    return s.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
        .cast("long")
        .alias("duration_us"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


@register(
    "agg_hll_merge_rollup",
    """
    WITH per_type AS (
      SELECT event_type, count(DISTINCT user_id) AS u FROM events GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(u) AS BIGINT) AS sum_type_users,
           (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events)
             AS exact_total_users,
           TRUE AS merged_ok
    FROM per_type
    """,
)
def agg_hll_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGEABILITY — the property that makes sketches the 100 TB
    rollup architecture: per-event-type HLL sketches are unioned into a
    corpus-wide distinct-user estimate WITHOUT re-reading events
    (`hll_union_agg` over the per-type sketch column). Sum-of-per-type
    counts overcounts shared users; the merged sketch does not — the row
    emits both so the gap is visible. Same oracle contract as the other
    sketch rows: exact cardinalities plus an in-band boolean (3·rsd,
    rsd ≈ 1.04/√2¹² for lgK=12; deterministic for a given input)."""
    e = read_table(spark, sf_dir, "events")
    per_type = e.groupBy("event_type").agg(
        F.expr("hll_sketch_agg(user_id, 12)").alias("sk"),
        F.count_distinct("user_id").cast("long").alias("u"),
    )
    exact_total = e.select(
        F.count_distinct("user_id").cast("long").alias("exact_total_users")
    )
    rsd = 3 * (1.04 / (2**12) ** 0.5)
    merged = per_type.agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("u").cast("long").alias("sum_type_users"),
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("__est"),
    )
    return merged.crossJoin(F.broadcast(exact_total)).select(
        "n_types",
        "sum_type_users",
        "exact_total_users",
        (
            F.abs(F.col("__est") - F.col("exact_total_users"))
            <= F.lit(rsd) * F.col("exact_total_users")
        ).alias("merged_ok"),
    )


@register(
    "pattern_consecutive_click_purchase",
    """
    WITH o AS (
      SELECT user_id, event_id, ts, event_type,
             lead(event_type) OVER w AS next_type,
             lead(event_id) OVER w AS next_id,
             lead(ts) OVER w AS next_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    )
    SELECT user_id, event_id AS click_id, next_id AS purchase_id,
           ts AS click_ts, next_ts AS purchase_ts,
           CAST(epoch_us(next_ts) - epoch_us(ts) AS BIGINT) AS gap_us
    FROM o
    WHERE event_type = 'click' AND next_type = 'purchase'
      AND epoch_us(next_ts) - epoch_us(ts) <= 600000000
    """,
)
def pattern_consecutive_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern detection (MATCH_RECOGNIZE-lite): a click
    IMMEDIATELY followed by a purchase in the same user's ordered event
    stream, within 10 minutes — adjacency via lead() so no self-join
    touches the stream (the interval-join twin
    ``stream_click_purchase_join`` matches ANY following purchase; this
    matches only the next event). One shuffle on user_id; ordering ties
    break on (epoch_us, event_id) as everywhere."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts").asc(), F.col("event_id").asc()
    )
    o = e.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
        F.lead("event_id").over(w).alias("next_id"),
        F.lead("ts").over(w).alias("next_ts"),
    )
    return o.filter(
        (F.col("event_type") == "click")
        & (F.col("next_type") == "purchase")
        & (F.unix_micros("next_ts") - F.unix_micros("ts") <= 600_000_000)
    ).select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("next_id").alias("purchase_id"),
        F.col("ts").alias("click_ts"),
        F.col("next_ts").alias("purchase_ts"),
        (F.unix_micros("next_ts") - F.unix_micros("ts"))
        .cast("long")
        .alias("gap_us"),
    )


@register(
    "agg_argmax_customer_per_nation",
    """
    SELECT c_nationkey,
           arg_max(c_name, (CAST(c_acctbal * 100 AS BIGINT) + 1000000)
                           * 1000000000000 + c_custkey) AS richest,
           max(c_acctbal) AS max_acctbal,
           arg_min(c_name, (CAST(c_acctbal * 100 AS BIGINT) + 1000000)
                           * 1000000000000 + c_custkey) AS poorest,
           min(c_acctbal) AS min_acctbal,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM customer GROUP BY c_nationkey
    """,
)
def agg_argmax_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``max_by``/``min_by`` (argmax/argmin) aggregates — the single-pass
    alternative to a rank-window + filter for "the row achieving the
    group extremum" (no sort, partial-agg friendly: the shuffle carries
    one candidate per group per partition). Ties on acctbal are real
    (two-decimal values collide), and neither engine defines which row
    arg_max returns on a tie — so the ordering key is a composite BIGINT
    ``(acctbal_e2 + 10⁶)·10¹² + custkey`` (offset clears negatives,
    custkey disambiguates; DuckDB's arg_max takes no composite keys, so
    the encoding IS the cross-engine contract)."""
    c = read_table(spark, sf_dir, "customer")
    key = (
        (F.col("c_acctbal") * 100).cast("long") + 1_000_000
    ) * 1_000_000_000_000 + F.col("c_custkey")
    return c.groupBy("c_nationkey").agg(
        F.max_by("c_name", key).alias("richest"),
        F.max("c_acctbal").alias("max_acctbal"),
        F.min_by("c_name", key).alias("poorest"),
        F.min("c_acctbal").alias("min_acctbal"),
        F.count(F.lit(1)).cast("long").alias("n_customers"),
    )


@register(
    "diag_join_key_skew",
    """
    WITH c AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1
    ), r AS (
      SELECT user_id, cnt,
             row_number() OVER (ORDER BY cnt ASC, user_id ASC) AS rk,
             CAST(count(*) OVER () AS BIGINT) AS n_keys
      FROM c
    )
    SELECT max(n_keys) AS n_keys,
           CAST(sum(cnt) AS BIGINT) AS total_rows,
           max(cnt) AS max_cnt,
           CAST(max(CASE WHEN rk = CAST(ceil(n_keys * 0.5) AS BIGINT)
                         THEN cnt END) AS BIGINT) AS p50_cnt,
           CAST(max(CASE WHEN rk = CAST(ceil(n_keys * 0.9) AS BIGINT)
                         THEN cnt END) AS BIGINT) AS p90_cnt,
           floor(max(cnt) / max(CASE WHEN rk = CAST(ceil(n_keys * 0.5) AS BIGINT)
                                     THEN cnt END) * 1e6 + 0.5) / 1e6
             AS skew_ratio
    FROM r
    """,
)
def diag_join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic — the pre-flight check before shuffling
    100 TB on a key: per-key cardinality profile (max / p50 / p90 and the
    max:median ratio) of ``events.user_id``. A ratio ≫ 1 says the biggest
    partition will straggle and the key needs salting
    (``operators.joins.salted_join``) or AQE skew splitting. Rank-based
    exact percentiles (deterministic: ties ordered by key) on the
    POST-AGG key-count set; the rank is the two-phase distributed
    ``ranking.ordered_prefix`` and the key count a one-row broadcast —
    at 100 TB the key set is itself huge, so neither a single-partition
    rank window nor a global count window is allowed (advice r5)."""
    from datamodel_clinicaldata_spark.operators.ranking import ordered_prefix

    e = read_table(spark, sf_dir, "events")
    c = e.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    nk = c.agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
    # r13: counted-small path — A/B at sf0.1: 2.47 → 1.75 s.
    r = ordered_prefix(
        c,
        [F.col("cnt").asc(), F.col("user_id").asc()],
        rank_col="rk",
        count_small=2_000_000,
    ).crossJoin(F.broadcast(nk)).select("user_id", "cnt", "rk", "n_keys")
    p50 = F.max(
        F.when(
            F.col("rk") == F.ceil(F.col("n_keys") * 0.5).cast("long"), F.col("cnt")
        )
    )
    p90 = F.max(
        F.when(
            F.col("rk") == F.ceil(F.col("n_keys") * 0.9).cast("long"), F.col("cnt")
        )
    )
    from datamodel_clinicaldata_spark.functions.vectors import round_fixed

    return r.agg(
        F.max("n_keys").alias("n_keys"),
        F.sum("cnt").cast("long").alias("total_rows"),
        F.max("cnt").alias("max_cnt"),
        p50.cast("long").alias("p50_cnt"),
        p90.cast("long").alias("p90_cnt"),
        round_fixed(F.max("cnt") / p50).alias("skew_ratio"),
    )


@register(
    "feature_zscore_by_group",
    """
    WITH s AS (
      SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
      FROM events GROUP BY 1
    )
    SELECT e.event_id, e.event_type, round(e.value, 4) AS value,
           round((e.value - s.mu) / s.sd, 4) AS z
    FROM events e JOIN s USING (event_type)
    """,
)
def feature_zscore_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score normalization — the feature-engineering step
    that standardizes a metric within its segment before modeling. Group
    moments reduce to ≤ |event_type| rows and BROADCAST back onto the
    stream (no row-level shuffle at all; the window-function alternative
    would shuffle every event on event_type). round(4) on both engines
    absorbs the sub-ulp spread of differently-ordered float sums, same
    doctrine as ``agg_statistical_moments``."""
    e = read_table(spark, sf_dir, "events")
    s = e.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd")
    )
    return e.join(F.broadcast(s), "event_type").select(
        "event_id",
        "event_type",
        F.round(F.col("value"), 4).alias("value"),
        F.round((F.col("value") - F.col("mu")) / F.col("sd"), 4).alias("z"),
    )


@register(
    "feature_quantile_bins",
    """
    WITH b AS (
      SELECT event_type, value,
             ntile(10) OVER (PARTITION BY event_type
                             ORDER BY value, event_id) AS bin
      FROM events
    )
    SELECT event_type, CAST(bin AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           round(min(value), 4) AS lo,
           round(max(value), 4) AS hi
    FROM b GROUP BY 1, 2
    """,
)
def feature_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth binning (decile bucketing) of a metric within each
    segment — the discretization step behind quantile features and
    monotonic calibration. ntile is count-based (no float percentile
    estimation), so bins are exact and deterministic once ordering ties
    break on event_id; per-bin bounds reported rounded. One shuffle on
    event_type; the per-segment sort is the inherent cost of exact
    equi-depth (the approximate alternative is the GK/KLL sketch rows)."""
    from pyspark.sql import Window

    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    b = e.select(
        "event_type", "value", F.ntile(10).over(w).cast("long").alias("bin")
    )
    return b.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.min("value"), 4).alias("lo"),
        F.round(F.max("value"), 4).alias("hi"),
    )


@register(
    "funnel_weekly_trend",
    """
    WITH steps AS (
      SELECT user_id,
             min(ts) FILTER (event_type = 'signup')   AS t_signup,
             min(ts) FILTER (event_type = 'click')    AS t_click,
             min(ts) FILTER (event_type = 'purchase') AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT date_trunc('week', t_signup) AS signup_week,
           CAST(count(*) AS BIGINT) AS n_signups,
           CAST(sum(CASE WHEN t_click > t_signup AND t_purchase > t_click
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
    FROM steps
    WHERE t_signup IS NOT NULL
    GROUP BY 1
    """,
)
def funnel_weekly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion TREND: the per-user signup→click→purchase funnel
    rolled up by signup week — the time dimension product teams actually
    watch (is conversion improving?). Same single conditional-aggregation
    pass as ``funnel_signup_click_purchase`` (no self-joins), then one
    bounded rollup on the week bucket; NULL-step users count as
    unconverted via the CASE (not NULL) so the trend's denominator is
    every signup."""
    e = read_table(spark, sf_dir, "events")
    step = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))  # noqa: E731
    s = e.groupBy("user_id").agg(
        step("signup").alias("t_signup"),
        step("click").alias("t_click"),
        step("purchase").alias("t_purchase"),
    )
    return (
        s.filter(F.col("t_signup").isNotNull())
        .groupBy(F.date_trunc("week", F.col("t_signup")).alias("signup_week"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_signups"),
            F.sum(
                (
                    (F.col("t_click") > F.col("t_signup"))
                    & (F.col("t_purchase") > F.col("t_click"))
                ).cast("long")
            )
            .cast("long")
            .alias("n_converted"),
        )
    )


@register(
    "join_temporal_scd2_pointintime",
    """
    WITH versions AS (
      SELECT user_id, ts AS valid_from, round(max(value), 4) AS version_value
      FROM events WHERE event_type = 'click'
      GROUP BY user_id, ts
    ), hist AS (
      SELECT user_id, valid_from, version_value,
             lead(valid_from) OVER (PARTITION BY user_id
                                    ORDER BY valid_from) AS valid_to
      FROM versions
    )
    SELECT p.event_id, p.user_id, p.ts,
           h.version_value, h.valid_from
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN hist h
      ON h.user_id = p.user_id
     AND h.valid_from <= p.ts
     AND (p.ts < h.valid_to OR h.valid_to IS NULL)
    """,
)
def join_temporal_scd2_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal (point-in-time) join: each purchase is enriched with the
    SCD2 attribute version valid AT its event time — "what did we know
    about the user when they bought". Because an SCD2 history's intervals
    are gapless and non-overlapping, point-in-interval membership is
    EQUIVALENT to an as-of backward join — and the engine executes it as
    one (union + ordered-window merge, |L|+|R| rows through one shuffle),
    not as the interval theta-join the SQL spells, which fans out every
    (probe × earlier-version) pair before discarding all but one. Click
    versions collapse to one per (user, ts) first so interval starts are
    strictly increasing (zero-width intervals would make "valid at ts"
    ambiguous)."""
    from datamodel_clinicaldata_spark.operators.joins import asof_join

    e = read_table(spark, sf_dir, "events")
    versions = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").alias("valid_from"))
        .agg(F.round(F.max("value"), 4).alias("version_value"))
    )
    probes = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return asof_join(
        probes,
        versions,
        left_key="user_id",
        right_key="user_id",
        left_ts="ts",
        right_ts="valid_from",
        right_cols=["version_value", "valid_from"],
        direction="backward",
        how="inner",
    ).select("event_id", "user_id", "ts", "version_value", "valid_from")


@register(
    "diag_interarrival_histogram",
    """
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id, event_type
                                                   ORDER BY epoch_us(ts), event_id))
               AS gap_us
      FROM events
    )
    SELECT event_type,
           CASE WHEN gap_us < 1000000 THEN '0_lt_1s'
                WHEN gap_us < 60000000 THEN '1_lt_1m'
                WHEN gap_us < 600000000 THEN '2_lt_10m'
                WHEN gap_us < 3600000000 THEN '3_lt_1h'
                WHEN gap_us < 21600000000 THEN '4_lt_6h'
                WHEN gap_us < 86400000000 THEN '5_lt_24h'
                ELSE '6_ge_24h' END AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(gap_us) AS BIGINT) AS min_gap_us,
           CAST(max(gap_us) AS BIGINT) AS max_gap_us
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY 1, 2
    """,
)
def diag_interarrival_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival latency profile per event type — the observability
    histogram behind session-gap and watermark-delay tuning (pick the
    sessionization gap / watermark where the mass separates). Buckets are
    EXACT integer microsecond thresholds (a log2-of-double bucketing
    would be engine-dependent near powers of two: Spark's log2 is
    ln(x)/ln(2), not a native log2, so floor can disagree at exact
    boundaries). One window pass + bounded rollup."""
    from pyspark.sql import Window

    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.unix_micros("ts").asc(), F.col("event_id").asc()
    )
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    g = e.select("event_type", gap.alias("gap_us")).filter(
        F.col("gap_us").isNotNull()
    )
    bucket = (
        F.when(F.col("gap_us") < 1_000_000, "0_lt_1s")
        .when(F.col("gap_us") < 60_000_000, "1_lt_1m")
        .when(F.col("gap_us") < 600_000_000, "2_lt_10m")
        .when(F.col("gap_us") < 3_600_000_000, "3_lt_1h")
        .when(F.col("gap_us") < 21_600_000_000, "4_lt_6h")
        .when(F.col("gap_us") < 86_400_000_000, "5_lt_24h")
        .otherwise("6_ge_24h")
    )
    return g.groupBy("event_type", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("gap_us").cast("long").alias("min_gap_us"),
        F.max("gap_us").cast("long").alias("max_gap_us"),
    )


@register(
    "diag_referential_integrity",
    """
    SELECT 'orders.o_custkey -> customer' AS relationship,
           CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_child,
           CAST((SELECT count(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT) AS n_orphans
    UNION ALL
    SELECT 'lineitem.l_orderkey -> orders',
           CAST((SELECT count(*) FROM lineitem) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT)
    UNION ALL
    SELECT 'events.user_id -> customer',
           CAST((SELECT count(*) FROM events) AS BIGINT),
           CAST((SELECT count(*) FROM events e
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = e.user_id))
                AS BIGINT)
    """,
)
def diag_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit — the conformance check a warehouse
    runs after every load: orphan counts for each child→parent
    relationship, computed as LEFT ANTI joins (the dimension side
    broadcasts, so each audit is one scan of the child table; the
    EXISTS-subquery formulation in the oracle plans to the same
    anti-join). A non-zero orphan count is the signal to quarantine a
    load before joins silently drop rows."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    e = read_table(spark, sf_dir, "events")

    def audit(name, child, key, parent, pkey):
        orphans = child.join(
            F.broadcast(parent.select(F.col(pkey).alias(key)).distinct()),
            key,
            "left_anti",
        )
        return (
            child.agg(F.count(F.lit(1)).cast("long").alias("n_child"))
            .crossJoin(
                orphans.agg(F.count(F.lit(1)).cast("long").alias("n_orphans"))
            )
            .select(F.lit(name).alias("relationship"), "n_child", "n_orphans")
        )

    return (
        audit("orders.o_custkey -> customer", o.select("o_custkey"), "o_custkey", c, "c_custkey")
        .unionAll(
            audit("lineitem.l_orderkey -> orders", li.select("l_orderkey"), "l_orderkey", o, "o_orderkey")
        )
        .unionAll(
            audit("events.user_id -> customer", e.select("user_id"), "user_id", c, "c_custkey")
        )
    )


@register(
    "diag_json_schema_profile",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN json_valid(props) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_valid_json,
           CAST(sum(CASE WHEN json_extract(props, '$.k') IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_with_k,
           CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS min_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS max_k
    FROM events GROUP BY event_type
    """,
)
def diag_json_schema_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload conformance: per event type, how many
    ``props`` payloads parse as JSON, carry the expected key, and the
    value range of that key — the schema-drift tripwire for a loosely
    typed ingestion column. All JVM-side (``get_json_object``); one
    aggregation pass."""
    e = read_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(F.get_json_object(F.col("props"), "$").isNotNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_valid_json"),
        F.sum(F.when(k.isNotNull(), 1).otherwise(0)).cast("long").alias("n_with_k"),
        F.min(k.cast("long")).alias("min_k"),
        F.max(k.cast("long")).alias("max_k"),
    )


@register(
    "events_association_lift",
    """
    WITH tu AS (
      SELECT DISTINCT event_type, user_id FROM events
    ), per AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS u FROM tu GROUP BY 1
    ), total AS (
      SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n FROM events
    ), cooc AS (
      SELECT x.event_type AS type_a, y.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS u_both
      FROM tu x JOIN tu y ON x.user_id = y.user_id
      WHERE x.event_type < y.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, pa.u AS users_a, pb.u AS users_b, u_both,
           floor((CAST(u_both AS DOUBLE) * total.n) / (pa.u * pb.u)
                 * 1000000.0 + 0.5) / 1000000.0 AS lift
    FROM cooc
    JOIN per pa ON pa.event_type = type_a
    JOIN per pb ON pb.event_type = type_b
    CROSS JOIN total
    """,
)
def events_association_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association lift between event types — the market-basket statistic
    lift(a,b) = P(a∧b)/(P(a)·P(b)): >1 means doing A makes doing B more
    likely than chance, the signal recommendation and cross-sell rules
    are mined from. Exact integer user counts into one double expression
    (numerator product first, then a single division — fixed order both
    engines), fixed-point rounded. The user-pair join is on user_id with
    per-user event-type sets bounded by |event types|."""
    e = read_table(spark, sf_dir, "events")
    tu = e.select("event_type", "user_id").distinct()
    per = tu.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("u"))
    total = e.select(F.count_distinct("user_id").cast("long").alias("n"))
    both = (
        tu.alias("x")
        .join(tu.alias("y"), F.col("x.user_id") == F.col("y.user_id"))
        .filter(F.col("x.event_type") < F.col("y.event_type"))
        .groupBy(
            F.col("x.event_type").alias("type_a"),
            F.col("y.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("u_both"))
    )
    from datamodel_clinicaldata_spark.functions.vectors import round_fixed

    return (
        both.join(
            F.broadcast(per.select(F.col("event_type").alias("type_a"), F.col("u").alias("users_a"))),
            "type_a",
        )
        .join(
            F.broadcast(per.select(F.col("event_type").alias("type_b"), F.col("u").alias("users_b"))),
            "type_b",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "type_a",
            "type_b",
            "users_a",
            "users_b",
            "u_both",
            round_fixed(
                (F.col("u_both").cast("double") * F.col("n"))
                / (F.col("users_a") * F.col("users_b")),
            ).alias("lift"),
        )
    )


@register(
    "agg_revenue_share_window",
    """
    WITH rev AS (
      SELECT n.n_regionkey, c.c_nationkey,
             CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS nation_cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    )
    SELECT n_regionkey, c_nationkey,
           nation_cents / 100.0 AS nation_rev,
           floor(nation_cents
                 / CAST(sum(nation_cents) OVER (PARTITION BY n_regionkey) AS BIGINT)
                 * 1000000.0 + 0.5) / 1000000.0 AS region_share
    FROM rev
    """,
)
def agg_revenue_share_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total (ratio_to_report): each nation's revenue as a
    fraction of its region's — the percent-of-parent BI pattern, via a
    window sum over the POST-AGG nation rollup (≤ |nations| rows shuffle
    into the window, never order rows). Revenue is summed in INTEGER
    cents end-to-end (advice r5 #4: the rounded float sum fed this
    share ratio — the amplifying shape; 2-decimal prices are exact in
    cents), so numerator, window denominator, and their quotient are
    the identical doubles in both engines; the share is fixed-point
    rounded, the reported revenue one division by 100 at output."""
    from pyspark.sql import Window

    from datamodel_clinicaldata_spark.functions.vectors import round_fixed

    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    rev = (
        o.join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("n_regionkey", "c_nationkey")
        .agg(F.sum(cents).cast("long").alias("nation_cents"))
    )
    w = Window.partitionBy("n_regionkey")
    return rev.select(
        "n_regionkey",
        "c_nationkey",
        (F.col("nation_cents") / 100.0).alias("nation_rev"),
        round_fixed(
            F.col("nation_cents") / F.sum("nation_cents").over(w).cast("long")
        ).alias("region_share"),
    )


@register(
    "funnel_time_to_convert",
    """
    WITH steps AS (
      SELECT user_id,
             min(ts) FILTER (event_type = 'signup')   AS t_signup,
             min(ts) FILTER (event_type = 'purchase') AS t_purchase
      FROM events GROUP BY user_id
    ), conv AS (
      SELECT user_id,
             CAST(epoch_us(t_purchase) - epoch_us(t_signup) AS BIGINT) AS lat_us
      FROM steps
      WHERE t_signup IS NOT NULL AND t_purchase > t_signup
    ), r AS (
      SELECT lat_us,
             row_number() OVER (ORDER BY lat_us ASC, user_id ASC) AS rk,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM conv
    )
    SELECT max(n) AS n_converted,
           CAST(min(lat_us) AS BIGINT) AS min_us,
           CAST(max(CASE WHEN rk = CAST(ceil(n * 0.5) AS BIGINT)
                         THEN lat_us END) AS BIGINT) AS p50_us,
           CAST(max(CASE WHEN rk = CAST(ceil(n * 0.9) AS BIGINT)
                         THEN lat_us END) AS BIGINT) AS p90_us,
           CAST(max(lat_us) AS BIGINT) AS max_us
    FROM r
    """,
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert latency distribution: exact rank-based percentiles
    of first-signup→first-purchase latency over converted users — the
    funnel family's latency dimension (how LONG conversion takes, next
    to how OFTEN). Same rank-percentile doctrine as the skew diagnostic
    (deterministic ties on user_id, percentiles picked by row number on
    the post-agg per-user set — never a float percentile estimator); the
    rank is the two-phase distributed ``ranking.ordered_prefix`` and the
    converted-user count a one-row broadcast (advice r5: no
    single-partition window over a user-cardinality set)."""
    from datamodel_clinicaldata_spark.operators.ranking import ordered_prefix

    e = read_table(spark, sf_dir, "events")
    step = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))  # noqa: E731
    s = e.groupBy("user_id").agg(
        step("signup").alias("t_signup"), step("purchase").alias("t_purchase")
    )
    conv = s.filter(
        F.col("t_signup").isNotNull() & (F.col("t_purchase") > F.col("t_signup"))
    ).select(
        "user_id",
        (F.unix_micros("t_purchase") - F.unix_micros("t_signup"))
        .cast("long")
        .alias("lat_us"),
    )
    nconv = conv.agg(F.count(F.lit(1)).cast("long").alias("n"))
    # r13: counted-small path — A/B at sf0.1: 2.09 → 1.10 s.
    r = ordered_prefix(
        conv,
        [F.col("lat_us").asc(), F.col("user_id").asc()],
        rank_col="rk",
        count_small=2_000_000,
    ).crossJoin(F.broadcast(nconv)).select("lat_us", "rk", "n")
    pick = lambda q: F.max(  # noqa: E731
        F.when(F.col("rk") == F.ceil(F.col("n") * q).cast("long"), F.col("lat_us"))
    )
    return r.agg(
        F.max("n").alias("n_converted"),
        F.min("lat_us").cast("long").alias("min_us"),
        pick(0.5).cast("long").alias("p50_us"),
        pick(0.9).cast("long").alias("p90_us"),
        F.max("lat_us").cast("long").alias("max_us"),
    )


@register(
    "timeseries_interval_coverage",
    """
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 1800000000 AS e
      FROM events
    ), flag AS (
      SELECT user_id, s, e,
             CASE WHEN s > coalesce(max(e) OVER (
                    PARTITION BY user_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS new_island
      FROM iv
    ), grp AS (
      SELECT user_id, s, e,
             sum(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                                   ROWS UNBOUNDED PRECEDING) AS island
      FROM flag
    ), merged AS (
      SELECT user_id, island, min(s) AS ms, max(e) AS me
      FROM grp GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(me - ms) AS BIGINT) AS covered_us
    FROM merged GROUP BY user_id
    """,
)
def timeseries_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union coverage (gaps-and-islands): each event opens a
    30-minute activity window; overlapping windows merge, and the query
    reports per user how many disjoint activity islands remain and the
    total covered time — the active-time metric naive sum-of-durations
    double-counts. The sweep is the classic running-max formulation: an
    interval starts a new island iff its start exceeds the running max
    of prior ends (one ordered window per user, integer microseconds
    end-to-end, so the merge is exact in both engines)."""
    from pyspark.sql import Window

    e = read_table(spark, sf_dir, "events")
    iv = e.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + 1_800_000_000).alias("e"),
    )
    w = Window.partitionBy("user_id").orderBy(F.col("s").asc(), F.col("e").asc())
    prev_max = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flag = iv.withColumn(
        "new_island",
        F.when(F.col("s") > F.coalesce(prev_max, F.lit(-1)), 1).otherwise(0),
    )
    grp = flag.withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    merged = grp.groupBy("user_id", "island").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.sum(F.col("me") - F.col("ms")).cast("long").alias("covered_us"),
    )


@register(
    "events_new_vs_returning",
    """
    WITH o AS (
      SELECT user_id, ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS rn
      FROM events
    ), daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_new
      FROM o GROUP BY 1
    )
    SELECT day, n_events, n_new,
           n_events - n_new AS n_returning,
           CAST(sum(n_new) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cumulative_users
    FROM daily
    """,
)
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning decomposition: each user's FIRST event (row 1 of
    their ordered stream, ties on event_id) marks them new that day;
    daily rollup plus a running total of acquired users — the growth
    accounting every product dashboard leads with. The running window
    runs over the post-agg daily table (≤ |days| rows), not the event
    stream."""
    from pyspark.sql import Window

    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts").asc(), F.col("event_id").asc()
    )
    o = e.select(
        "user_id", "ts", F.row_number().over(w).alias("rn")
    )
    daily = o.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum((F.col("rn") == 1).cast("long")).cast("long").alias("n_new"),
    )
    cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        "n_events",
        "n_new",
        (F.col("n_events") - F.col("n_new")).alias("n_returning"),
        F.sum("n_new").over(cum).cast("long").alias("cumulative_users"),
    )


@register(
    "diag_snapshot_diff",
    """
    WITH a AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
                  AS BIGINT) AS v
      FROM events WHERE event_id % 2 = 0 GROUP BY 1, 2
    ), b AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
                  AS BIGINT) AS v
      FROM events WHERE event_id % 2 = 1 GROUP BY 1, 2
    )
    SELECT CAST(sum(CASE WHEN a.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_added,
           CAST(sum(CASE WHEN b.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_removed,
           CAST(sum(CASE WHEN a.user_id IS NOT NULL AND b.user_id IS NOT NULL
                          AND (a.n <> b.n OR a.v <> b.v)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
           CAST(sum(CASE WHEN a.user_id IS NOT NULL AND b.user_id IS NOT NULL
                          AND a.n = b.n AND a.v = b.v
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
    FROM a FULL OUTER JOIN b USING (user_id, event_type)
    """,
)
def diag_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: two loads of the same keyed aggregate
    (here: per-(user, type) stats over disjoint event halves standing in
    for yesterday/today) diffed into added / removed / changed /
    unchanged key counts — the data-diff that validates an incremental
    pipeline against a full recompute. One full-outer join on the
    aggregate key; both sides reduce before the join so the diff never
    touches raw rows. The value comparison is ``a.v = b.v`` — an exact
    EQUALITY predicate on an aggregate, the amplifying shape (advice r5
    #4): a rounded float sum there flips changed/unchanged on
    combine-order ulps, so values quantize to 10⁻⁶ BIGINTs per row and
    the compared sums are exact integers in both engines."""
    e = read_table(spark, sf_dir, "events")
    vq = F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("long")

    def snap(parity):
        return (
            e.filter(F.col("event_id") % 2 == parity)
            .groupBy("user_id", "event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(vq).cast("long").alias("v"),
            )
        )

    a, b = snap(0).alias("a"), snap(1).alias("b")
    j = a.join(b, ["user_id", "event_type"], "full_outer")
    in_a = F.col("a.n").isNotNull()
    in_b = F.col("b.n").isNotNull()
    return j.agg(
        F.sum((~in_a).cast("long")).cast("long").alias("n_added"),
        F.sum((~in_b).cast("long")).cast("long").alias("n_removed"),
        F.sum(
            (in_a & in_b & ((F.col("a.n") != F.col("b.n")) | (F.col("a.v") != F.col("b.v")))).cast("long")
        )
        .cast("long")
        .alias("n_changed"),
        F.sum(
            (in_a & in_b & (F.col("a.n") == F.col("b.n")) & (F.col("a.v") == F.col("b.v"))).cast("long")
        )
        .cast("long")
        .alias("n_unchanged"),
    )


@register(
    "timeseries_trend_slope",
    """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_points,
           round(regr_slope(value, epoch_us(ts) / 86400000000.0), 4)
             AS slope_per_day,
           round(regr_r2(value, epoch_us(ts) / 86400000000.0), 4) AS r2
    FROM events
    GROUP BY user_id
    HAVING count(*) >= 10
    """,
)
def timeseries_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series trend estimation: the least-squares slope of each
    user's metric over time (units per day) with its R² — the
    degradation/growth detector run across millions of series at once
    (regression moments are single-pass partial-agg state, so one
    shuffle of constant-size state per series). Time is rescaled to days
    BEFORE the regression so the slope is readably scaled; moments round
    to 4 under the float-sum ulp doctrine. Series shorter than 10 points
    are dropped (slope of noise)."""
    e = read_table(spark, sf_dir, "events")
    days = F.unix_micros("ts") / 86_400_000_000.0
    return (
        e.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.round(F.regr_slope(F.col("value"), days), 4).alias("slope_per_day"),
            F.round(F.regr_r2(F.col("value"), days), 4).alias("r2"),
        )
        .filter(F.col("n_points") >= 10)
    )


@register(
    "events_markov_transitions",
    """
    WITH o AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id) AS next_type
      FROM events
    ), trans AS (
      SELECT event_type AS from_type, next_type AS to_type,
             CAST(count(*) AS BIGINT) AS n
      FROM o WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    ), tot AS (
      SELECT from_type, CAST(sum(n) AS BIGINT) AS row_total FROM trans GROUP BY 1
    )
    SELECT t.from_type, t.to_type, t.n,
           floor(CAST(t.n AS DOUBLE) / tot.row_total * 1000000.0 + 0.5)
             / 1000000.0 AS p
    FROM trans t JOIN tot USING (from_type)
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey Markov chain: the transition count and probability
    matrix over consecutive event types per user (ordered with the
    standard (epoch, event_id) tie-break) — the model behind journey
    mining and next-action prediction baselines. Exact integer counts,
    one double division per cell, row totals broadcast; the transition
    extraction is one lag/lead window pass over the user partition, no
    self-join."""
    from pyspark.sql import Window

    from datamodel_clinicaldata_spark.functions.vectors import round_fixed

    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts").asc(), F.col("event_id").asc()
    )
    o = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    trans = o.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = trans.groupBy("from_type").agg(
        F.sum("n").cast("long").alias("row_total")
    )
    return trans.join(F.broadcast(tot), "from_type").select(
        "from_type",
        "to_type",
        "n",
        round_fixed(F.col("n").cast("double") / F.col("row_total")).alias("p"),
    )


@register(
    "agg_geometric_mean_price",
    """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           round(exp(avg(ln(l_extendedprice))), 2) AS geo_mean_price,
           round(avg(l_extendedprice), 2) AS arith_mean_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_geometric_mean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric mean via the log-mean identity exp(mean(ln x)) — the
    right average for multiplicative/skewed quantities (ratios, prices,
    growth factors) where the arithmetic mean overweights the tail; both
    emitted so the skew gap is visible. Single-pass aggregation; the
    float mean rounds to 2 under the ulp doctrine."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.exp(F.avg(F.log("l_extendedprice"))), 2).alias("geo_mean_price"),
        F.round(F.avg("l_extendedprice"), 2).alias("arith_mean_price"),
    )


@register(
    "diag_null_profile",
    """
    SELECT 'o_orderdate' AS col, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null,
           CAST(count(DISTINCT o_orderdate) AS BIGINT) AS n_distinct
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT o_orderpriority) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT o_orderstatus) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT o_custkey) AS BIGINT)
    FROM orders
    """,
)
def diag_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (the first output of any data-quality tool): per
    column, row count, null count and exact distinct cardinality — here
    over a representative column set of ``orders``. Spark computes all
    columns in ONE pass (count_distinct per column in a single aggregate;
    the oracle's UNION-per-column form scans once per column — the
    single-pass form is the scale play) and unpivots to the per-column
    rows with a stack expression."""
    o = read_table(spark, sf_dir, "orders")
    cols = ["o_orderdate", "o_orderpriority", "o_orderstatus", "o_custkey"]
    agg = o.agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        *[
            x
            for c in cols
            for x in (
                F.sum(F.col(c).isNull().cast("long")).cast("long").alias(f"__null_{c}"),
                F.count_distinct(F.col(c)).cast("long").alias(f"__dist_{c}"),
            )
        ],
    )
    stack = ", ".join(f"'{c}', __null_{c}, __dist_{c}" for c in cols)
    return agg.selectExpr(
        f"stack({len(cols)}, {stack}) AS (col, n_null, n_distinct)", "__n AS n"
    ).select("col", "n", "n_null", "n_distinct")


@register(
    "events_weekday_seasonality",
    """
    SELECT isodow(ts) AS iso_dow, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile — the weekly-rhythm baseline
    capacity planning and anomaly thresholds normalize against. Weekday
    CONVENTIONS are an engine trap: Spark's ``dayofweek`` counts
    1=Sunday while DuckDB's ``dayofweek`` counts 0=Sunday — this pairs
    Spark's ``weekday()`` (0=Monday) + 1 with DuckDB's ``isodow``
    (1=Monday), the one alignment that agrees."""
    e = read_table(spark, sf_dir, "events")
    return e.groupBy(
        (F.weekday("ts") + 1).cast("long").alias("iso_dow"), "event_type"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


@register(
    "events_max_concurrency",
    """
    WITH pts AS (
      SELECT epoch_us(ts) AS t, 1 AS delta, event_id FROM events
      UNION ALL
      SELECT epoch_us(ts) + 1800000000, -1, event_id FROM events
    ), run AS (
      SELECT t,
             CAST(sum(delta) OVER (ORDER BY t ASC, delta ASC, event_id ASC
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS conc
      FROM pts
    ), mx AS (
      SELECT CAST(max(conc) AS BIGINT) AS m FROM run
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_intervals,
           mx.m AS max_concurrency,
           CAST(min(run.t) AS BIGINT) AS first_peak_us
    FROM run, mx WHERE run.conc = mx.m GROUP BY mx.m
    """,
)
def events_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum concurrency via the classic sweep line: every event opens a
    30-minute interval; endpoints become (+1 at start, −1 at end) deltas,
    and the running sum over the single global time order IS the live
    concurrency — its max is the capacity-planning headline (peak
    simultaneous sessions) plus the first instant it is reached. Closing
    deltas sort BEFORE opening deltas at the same microsecond (delta ASC),
    so touching intervals don't count as overlapping; ties then break on
    event_id — a total order, so the integer prefix sum is exact and
    engine-identical. The global running sum is the two-phase distributed
    ``ranking.ordered_prefix`` (range partitions carry local prefixes,
    broadcast per-partition subtotals supply the carry-in) — a sweep line
    over 2·|events| endpoints with NO single-partition sort, the shape an
    unpartitioned window cannot deliver at 100 TB."""
    from datamodel_clinicaldata_spark.operators.ranking import ordered_prefix

    e = read_table(spark, sf_dir, "events")
    start = e.select(
        F.unix_micros("ts").alias("t"),
        F.lit(1).cast("long").alias("delta"),
        "event_id",
    )
    end = e.select(
        (F.unix_micros("ts") + 1_800_000_000).alias("t"),
        F.lit(-1).cast("long").alias("delta"),
        "event_id",
    )
    # r13: counted-small path — A/B at sf0.1: 0.79 → 0.53 s (on top of
    # the struct-max rewrite below).
    run = ordered_prefix(
        start.unionAll(end),
        [F.col("t").asc(), F.col("delta").asc(), F.col("event_id").asc()],
        running_sum={"delta": "conc"},
        count_small=2_000_000,
    )
    # r13 (guide §2.4): "max conc, then min t at that max" was a global
    # max + broadcast join back over `run` + groupBy — consuming the
    # prefix frame twice re-ran the offsets machinery and added a join
    # and an aggregate (plans/r13/..._before.txt: 10 HashAggregates / 7
    # Exchanges). One lexicographic struct-max over (conc, −t) reads
    # `run` once and is integer-exact: max of the pair IS (max conc,
    # min t among rows at max conc).
    n = e.agg(F.count(F.lit(1)).cast("long").alias("n_intervals"))
    peak = run.agg(
        F.max(F.struct(F.col("conc"), (-F.col("t")).alias("negt"))).alias("pk")
    )
    return (
        peak.crossJoin(F.broadcast(n))
        .select(
            "n_intervals",
            F.col("pk.conc").cast("long").alias("max_concurrency"),
            (-F.col("pk.negt")).cast("long").alias("first_peak_us"),
        )
    )


@register(
    "timeseries_ewma_fold",
    """
    WITH q AS (
      SELECT user_id, epoch_us(ts) AS t, event_id,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v
      FROM events
    ), per AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_points,
             list(v ORDER BY t ASC, event_id ASC) AS vs
      FROM q GROUP BY 1
    )
    SELECT user_id, n_points,
           CAST(list_reduce(vs, (acc, x) ->
             (8 * acc + 2 * x
              - ((((8 * acc + 2 * x) % 10) + 10) % 10)) // 10
           ) AS BIGINT) AS ewma_e6
    FROM per
    """,
)
def timeseries_ewma_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average per series — the classic
    smoother behind alerting baselines, as a RECURRENCE (s ← 0.8·s +
    0.2·x), which no window frame expresses: each state depends on the
    previous state, so it runs as an ``F.aggregate`` fold over the
    time-ordered per-series value array (collect_list bounded by points
    per series — the same per-key footprint any stateful processor of
    this recurrence needs). Engine-exact by fixed-point doctrine: values
    quantize to 10⁻⁶ BIGINT, α = 0.2 is the integer step
    ``(8s + 2x) div 10`` with an explicit math-mod floor so both engines
    truncate identically even on negatives, and DuckDB's ``list_reduce``
    replays the identical integer recurrence (its first-element seed
    matches the fold's null-seeded first step). One shuffle of (key, t,
    v) triples; the fold ACCUMULATOR is O(1) but the sorted per-series
    array is O(points-per-key) in one row — a truncating recurrence
    cannot be segment-pre-folded exactly, so the bound is documented and
    probed rather than chunked away: the hot-key probe
    (tools/scale_probe.py probe_hot_key_fold) drives 10⁷ points on ONE
    key through this exact shape in ~97 s / ~400 MB with the closed-form
    check green. No guard is wired: a key beyond ~10⁷–10⁸ points needs
    the segmented shape of ``operators.folds.segmented_fold``."""
    e = read_table(spark, sf_dir, "events")
    rows = e.select(
        "user_id",
        F.struct(
            F.unix_micros("ts").alias("t"),
            F.col("event_id").alias("eid"),
            F.floor(F.col("value") * 1_000_000 + F.lit(0.5))
            .cast("long")
            .alias("v"),
        ).alias("p"),
    )
    per = rows.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.array_sort(F.collect_list("p")).alias("ps"),
    )

    def step(acc, p):
        nxt = 8 * acc + 2 * p["v"]
        m = ((nxt % 10) + 10) % 10
        # (nxt - m) is an exact multiple of 10; divide in DECIMAL so the
        # quotient is exact over the full BIGINT range (double division
        # is exact only below 2^53 — repo integer-division doctrine,
        # same class of fix as packing.py's batch `div`).
        return F.when(acc.isNull(), p["v"]).otherwise(
            ((nxt - m).cast("decimal(38,0)") / F.lit(10)).cast("long")
        )

    ewma = F.aggregate(F.col("ps"), F.lit(None).cast("long"), step)
    return per.select("user_id", "n_points", ewma.alias("ewma_e6"))


@register(
    "agg_bloom_filter_probe",
    """
    WITH params(a, b) AS (
      VALUES (769, 12289), (3079, 98317), (389, 6151), (193, 1543)
    ), bkeys AS (
      SELECT DISTINCT o_custkey AS key FROM orders
    ), bh AS (
      SELECT key,
             CAST('0x' || substr(md5(CAST(key AS VARCHAR)), 1, 15) AS BIGINT)
               % 1000000007 AS h1
      FROM bkeys
    ), bpos AS (
      SELECT key, ((h1 * a + b) % 1000000007) % 16384 AS idx
      FROM bh CROSS JOIN params
    ), sk AS (
      SELECT idx // 60 AS word,
             CAST(bit_or(1::BIGINT << CAST(idx % 60 AS INTEGER)) AS BIGINT)
               AS bits
      FROM bpos GROUP BY 1
    ), ph AS (
      SELECT c_custkey AS key,
             CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15)
                  AS BIGINT) % 1000000007 AS h1
      FROM customer
    ), ppos AS (
      SELECT key, ((h1 * a + b) % 1000000007) % 16384 AS idx
      FROM ph CROSS JOIN params
    ), probe AS (
      SELECT ppos.key,
             CAST(sum(CASE WHEN sk.bits IS NOT NULL
                            AND (sk.bits & (1::BIGINT
                                            << CAST(ppos.idx % 60 AS INTEGER)))
                                <> 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS hits
      FROM ppos LEFT JOIN sk ON sk.word = ppos.idx // 60
      GROUP BY 1
    ), verdicts AS (
      SELECT probe.key, probe.hits = 4 AS flagged,
             bkeys.key IS NOT NULL AS is_buyer
      FROM probe LEFT JOIN bkeys ON bkeys.key = probe.key
    )
    SELECT CAST(count(*) AS BIGINT) AS n_probed,
           CAST(sum(CASE WHEN is_buyer THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
           CAST(sum(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST(sum(CASE WHEN flagged AND NOT is_buyer THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_positive,
           (sum(CASE WHEN is_buyer AND NOT flagged THEN 1 ELSE 0 END) = 0)
             AS no_false_negatives,
           CASE WHEN sum(CASE WHEN NOT is_buyer THEN 1 ELSE 0 END) = 0
                THEN 0.0
                ELSE floor(sum(CASE WHEN flagged AND NOT is_buyer
                               THEN 1 ELSE 0 END)
                           / sum(CASE WHEN NOT is_buyer THEN 1 ELSE 0 END)
                           * 1000000.0 + 0.5) / 1000000.0 END AS fp_rate
    FROM verdicts
    """,
)
def agg_bloom_filter_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable Bloom filter, built and probed with groupBy primitives —
    completes the mergeable-sketch family (CMS / KLL / theta / HLL): the
    set "customers with ≥1 order" folds into a 16384-bit filter (4 hash
    functions over a 60-bit md5 prefix — the repo's ANSI-replayable hash
    — mapped into 60-bit words so no shift ever touches the sign bit),
    then EVERY customer key probes it. Instrumented the way the
    structure's contract demands: ``no_false_negatives`` is computed from
    the data (the Bloom guarantee — must be true), and the
    false-positive rate over true non-members is reported against the
    ~(1−e^(−kn/m))^k expectation. All integer bit arithmetic; one double
    division at output. Scale shape: the sketch is ≤274 words (KB) at ANY
    key cardinality — build is one groupBy over 4·|keys| positions,
    probe a broadcast join; this is how a 100 TB membership screen avoids
    shuffling the key set (same asymmetry Spark itself exploits in
    runtime bloom-filter join pruning, which test_plans pins)."""
    from datamodel_clinicaldata_spark.functions.vectors import round_fixed

    P = 1_000_000_007
    M = 16_384
    AB = [(769, 12289), (3079, 98317), (389, 6151), (193, 1543)]

    def h1(key):
        return (
            F.conv(F.substring(F.md5(key.cast("string")), 1, 15), 16, 10)
            .cast("long")
            % P
        )

    def positions(df, key):
        ja = F.array(*[F.struct(F.lit(a).alias("a"), F.lit(b).alias("b")) for a, b in AB])
        return df.select(
            key.alias("key"), h1(key).alias("h1")
        ).select(
            "key",
            F.explode(ja).alias("p"),
            "h1",
        ).select(
            "key",
            (((F.col("h1") * F.col("p.a") + F.col("p.b")) % P) % M).alias("idx"),
        )

    o = read_table(spark, sf_dir, "orders")
    bkeys = o.select(F.col("o_custkey").alias("key")).distinct()
    bpos = positions(bkeys, F.col("key"))
    sk = (
        bpos.select(
            (F.col("idx") / 60).cast("long").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(idx % 60 AS INT))").alias(
                "mask"
            ),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    c = read_table(spark, sf_dir, "customer")
    ppos = positions(c, F.col("c_custkey")).withColumn(
        "word", (F.col("idx") / 60).cast("long")
    ).withColumn(
        "mask", F.expr("shiftleft(CAST(1 AS BIGINT), CAST(idx % 60 AS INT))")
    )
    probe = (
        ppos.join(F.broadcast(sk), "word", "left")
        .groupBy("key")
        .agg(
            F.sum(
                (
                    F.col("bits").isNotNull()
                    & (F.col("bits").bitwiseAND(F.col("mask")) != 0)
                ).cast("long")
            ).alias("hits")
        )
    )
    verdicts = probe.join(
        bkeys.withColumn("__buyer", F.lit(True)), "key", "left"
    ).select(
        (F.col("hits") == 4).alias("flagged"),
        F.col("__buyer").isNotNull().alias("is_buyer"),
    )
    fp = F.sum((F.col("flagged") & ~F.col("is_buyer")).cast("long"))
    nonmember = F.sum((~F.col("is_buyer")).cast("long"))
    return verdicts.agg(
        F.count(F.lit(1)).cast("long").alias("n_probed"),
        F.sum(F.col("is_buyer").cast("long")).cast("long").alias("n_true"),
        F.sum(F.col("flagged").cast("long")).cast("long").alias("n_flagged"),
        fp.cast("long").alias("n_false_positive"),
        (F.sum((F.col("is_buyer") & ~F.col("flagged")).cast("long")) == 0).alias(
            "no_false_negatives"
        ),
        F.when(nonmember == 0, F.lit(0.0))
        .otherwise(round_fixed(fp / nonmember))
        .alias("fp_rate"),
    )


@register(
    "events_cohort_metric_by_age",
    """
    WITH birth AS (
      SELECT user_id, min(ts) AS birth_ts
      FROM events WHERE event_type = 'signup'
      GROUP BY 1
    ), aged AS (
      SELECT e.user_id,
             date_trunc('week', b.birth_ts) AS cohort_week,
             CAST(floor(CAST(epoch_us(e.ts) - epoch_us(b.birth_ts) AS DOUBLE)
                        / 604800000000.0) AS BIGINT) AS age_weeks,
             e.value
      FROM events e JOIN birth b ON b.user_id = e.user_id
      WHERE e.ts >= b.birth_ts
    )
    SELECT cohort_week, age_weeks,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           round(sum(value), 4) AS total_value
    FROM aged GROUP BY 1, 2
    """,
)
def events_cohort_metric_by_age(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHANA-style cohort aggregation (Jiang et al., "Cohort Analysis
    with Ease", SIGMOD'18): users are BORN at their first qualifying
    event (first ``signup``), assigned to a birth-week cohort, and every
    subsequent event is aggregated at its AGE (whole weeks since birth) —
    the (cohort × age) metric surface behind cohort-quality curves,
    distinct from ``retention_cohort_matrix`` which only counts presence.
    Plan: one per-user birth aggregate, a user-key join that reuses the
    event stream's hash partitioning, then a (cohort, age)-bounded
    rollup. Age arithmetic is integer microseconds floored to weeks —
    exact in both engines; value totals are display-rounded (rule-2)."""
    e = read_table(spark, sf_dir, "events")
    birth = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("birth_ts"))
    )
    aged = (
        e.join(birth, "user_id")
        .filter(F.col("ts") >= F.col("birth_ts"))
        .select(
            "user_id",
            F.date_trunc("week", "birth_ts").alias("cohort_week"),
            F.floor(
                (F.unix_micros("ts") - F.unix_micros("birth_ts"))
                .cast("double")
                / 604_800_000_000.0
            )
            .cast("long")
            .alias("age_weeks"),
            "value",
        )
    )
    return aged.groupBy("cohort_week", "age_weeks").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


@register(
    "json_variant_rollup",
    """
    WITH p AS (
      SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(k) AS BIGINT) AS sum_k,
           CAST(max(k) AS BIGINT) AS max_k,
           CAST(sum(CASE WHEN k > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_k_gt_50
    FROM p GROUP BY 1
    """,
)
def json_variant_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured rollup through Spark 4's native VARIANT type:
    ``parse_json`` decodes the payload ONCE into the binary variant
    encoding, ``variant_get`` then reads typed paths without re-parsing —
    the engine-native answer to the parse-per-path cost
    ``json_extract_props``'s docstring warns about (its
    ``get_json_object`` re-parses the string per extraction; with several
    fields read per row at 100 TB, parse-once is the difference). All
    extracted values are integers, so the rollup is exact end-to-end."""
    e = read_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.variant_get(v, "$.k", "long")
    p = e.select("event_type", k.alias("k"))
    return p.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("k").cast("long").alias("sum_k"),
        F.max("k").cast("long").alias("max_k"),
        F.sum((F.col("k") > 50).cast("long")).cast("long").alias("n_k_gt_50"),
    )


_SQL_LATERAL_TOP_ORDERS = """
    SELECT c_custkey, c_name, t.o_orderkey, t.o_totalprice, t.rnk
    FROM customer,
    LATERAL (
      SELECT o_orderkey, o_totalprice,
             CAST(row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC)
                  AS BIGINT) AS rnk
      FROM orders
      WHERE o_custkey = c_custkey
      ORDER BY o_totalprice DESC, o_orderkey ASC
      LIMIT 2
    ) t
    WHERE c_custkey < 200
"""


@register("sql_lateral_top_orders", _SQL_LATERAL_TOP_ORDERS)
def sql_lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery on the SQL face: each customer's top-2
    orders by price — the identical ANSI text runs on DuckDB as its own
    oracle. Exercises Catalyst's subquery decorrelation
    (DecorrelateInnerQuery rewrites the per-customer correlated limit
    into a join + partitioned window — .explain shows NO nested-loop
    per-row re-execution), the planner surface the window-function
    formulation never touches. Ties break on o_orderkey, so the top-2
    set is a total order and engine-identical."""
    from datamodel_clinicaldata_spark.sources.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_LATERAL_TOP_ORDERS)


@register(
    "join_interval_containment",
    """
    WITH iv AS (
      SELECT o_orderkey,
             epoch_us(o_orderdate) AS start_us,
             epoch_us(o_orderdate) + 604800000000 AS end_us
      FROM orders
      WHERE o_orderpriority = '1-URGENT'
        AND o_orderdate >= TIMESTAMP '1998-01-01'
        AND o_orderdate <  TIMESTAMP '1998-03-01'
    ), pts AS (
      SELECT event_id, epoch_us(ts) AS t_us FROM events
    )
    SELECT iv.o_orderkey,
           CAST(count(pts.event_id) AS BIGINT) AS n_events,
           CAST(min(pts.event_id) AS BIGINT) AS first_event,
           CAST(max(pts.event_id) AS BIGINT) AS last_event
    FROM iv LEFT JOIN pts
      ON pts.t_us >= iv.start_us AND pts.t_us < iv.end_us
    GROUP BY 1
    """,
)
def join_interval_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure interval-containment join — NO equality key anywhere (which
    events fall inside each urgent order's fulfilment week): the query
    shape Spark's planner turns into a broadcast nested loop (per-point
    scan of every interval). Executed instead with
    ``operators.joins.binned_interval_join``: intervals explode into the
    daily bins they cover, points hash-join on their single bin, exact
    bounds filter after — a shuffle-and-hash plan whose cost scales with
    |points| + |interval-bins|, not |points|×|intervals|. Left-join
    semantics (empty intervals survive with 0) come from re-joining the
    matched rollup onto the interval set. Integer-µs arithmetic
    end-to-end."""
    from datamodel_clinicaldata_spark.operators.joins import binned_interval_join

    o = read_table(spark, sf_dir, "orders")
    iv = o.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= "1998-01-01")
        & (F.col("o_orderdate") < "1998-03-01")
    ).select(
        "o_orderkey",
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("start_us"),
        (
            F.unix_micros(F.col("o_orderdate").cast("timestamp"))
            + 604_800_000_000
        ).alias("end_us"),
    )
    pts = read_table(spark, sf_dir, "events").select(
        "event_id", F.unix_micros("ts").alias("t_us")
    )
    matched = binned_interval_join(
        pts, iv, "t_us", "start_us", "end_us"
    ).groupBy("o_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min("event_id").cast("long").alias("first_event"),
        F.max("event_id").cast("long").alias("last_event"),
    )
    return iv.select("o_orderkey").join(matched, "o_orderkey", "left").select(
        "o_orderkey",
        F.coalesce("n_events", F.lit(0).cast("long")).alias("n_events"),
        "first_event",
        "last_event",
    )


@register(
    "join_asof_tolerance",
    """
    SELECT event_id, ts, user_id, o_orderkey, o_orderdate
    FROM (
      SELECT e.event_id, e.ts, e.user_id, o.o_orderkey, o.o_orderdate,
             row_number() OVER (PARTITION BY e.event_id
                                ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      FROM events e
      JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
           AND o.o_orderdate >= e.ts - INTERVAL 8400 DAY
    ) WHERE rn = 1
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness bound (pandas ``merge_asof
    tolerance`` semantics): latest order at-or-before each event, but a
    match older than the bound is no match — the freshness contract every
    feature-store lookup wants ("most recent value, unless it has gone
    stale"; the 8400-day bound deliberately BISECTS this testdata's
    8190-9799-day event-to-order gap distribution, so both the matched
    and the dropped branches carry rows). Implemented by nulling the PICKED row in
    ``operators.joins.asof_join``, provably identical to pre-filtering
    the candidate set (the pick is already the closest candidate) and
    free: same one union + one key shuffle + one running window, no
    extra scan. Oracle applies the same bound as a join predicate."""
    from datamodel_clinicaldata_spark.operators.joins import asof_join

    e = read_table(spark, sf_dir, "events")
    o = read_table(spark, sf_dir, "orders")
    return asof_join(
        e,
        o,
        left_key="user_id",
        right_key="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        right_cols=["o_orderkey"],
        tolerance=8400 * 86_400_000_000,  # 8400 days in µs
    ).select("event_id", "ts", "user_id", "o_orderkey", "o_orderdate")


@register(
    "events_rfm_scores",
    """
    WITH cust AS (
      SELECT o_custkey,
             CAST(date_diff('day', DATE '1970-01-01',
                            CAST(max(o_orderdate) AS DATE)) AS BIGINT) AS r_days,
             CAST(count(*) AS BIGINT) AS f_orders,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS m_cents
      FROM orders GROUP BY 1
    ), n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM cust),
    ranked AS (
      SELECT o_custkey, r_days, f_orders, m_cents,
             row_number() OVER (ORDER BY r_days ASC, o_custkey ASC) AS rr,
             row_number() OVER (ORDER BY f_orders ASC, o_custkey ASC) AS rf,
             row_number() OVER (ORDER BY m_cents ASC, o_custkey ASC) AS rm
      FROM cust
    )
    SELECT o_custkey, r_days, f_orders, m_cents,
           CAST(1 + ((rr - 1) * 5) // (SELECT n FROM n) AS BIGINT) AS r_score,
           CAST(1 + ((rf - 1) * 5) // (SELECT n FROM n) AS BIGINT) AS f_score,
           CAST(1 + ((rm - 1) * 5) // (SELECT n FROM n) AS BIGINT) AS m_score
    FROM ranked
    """,
)
def events_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quintiles), the
    classic CRM scoring — done ENGINE-EXACTLY: monetary in cents BIGINT,
    recency as the day ordinal, and quintiles from explicit row_number
    ranks with an id tiebreak + the integer bucket formula
    ``1 + (rank−1)·5 div n`` instead of ``ntile`` (whose tie placement
    is engine-dependent). The three global ranks run on the PER-CUSTOMER
    aggregate (|customers| ≪ |orders|) through the two-phase
    ``ordered_prefix`` — no single-partition sort of an unbounded frame;
    the orders→customer rollup is the only full-data shuffle."""
    from datamodel_clinicaldata_spark.operators.ranking import ordered_prefix

    o = read_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.unix_date(F.max("o_orderdate").cast("date")).cast("long").alias("r_days"),
        F.count(F.lit(1)).cast("long").alias("f_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("m_cents"),
    )
    ranked = cust
    # r13: counted-small path on all three chained ranks — A/B at sf0.1:
    # 2.48 → 1.52 s (each rank's input is the previous rank's frame; the
    # count replays it, still cheaper than 3× two-phase machinery).
    for src, out in (("r_days", "__rr"), ("f_orders", "__rf"), ("m_cents", "__rm")):
        ranked = ordered_prefix(
            ranked,
            [F.col(src).asc(), F.col("o_custkey").asc()],
            rank_col=out,
            count_small=2_000_000,
        )
    # Single-action plan (VERDICT r7 #4): the quintile denominator n is a
    # 1-row broadcast cross-join rather than a driver-side cust.count(),
    # so the query has no action between read and return and composes as
    # a view.  Integer `div` matches the oracle's `//` exactly (repo
    # doctrine: no float-divide-then-truncate feeding a result).
    tot = cust.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    return ranked.crossJoin(F.broadcast(tot)).select(
        "o_custkey",
        "r_days",
        "f_orders",
        "m_cents",
        F.expr("CAST(1 + ((__rr - 1) * 5) div __n AS BIGINT)").alias("r_score"),
        F.expr("CAST(1 + ((__rf - 1) * 5) div __n AS BIGINT)").alias("f_score"),
        F.expr("CAST(1 + ((__rm - 1) * 5) div __n AS BIGINT)").alias("m_score"),
    )


@register(
    "diag_benford_first_digit",
    """
    WITH cents AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c FROM orders
    ), digits AS (
      SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM cents WHERE c > 0
    ), tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM digits)
    SELECT digit,
           CAST(count(*) AS BIGINT) AS n,
           round(count(*) / (SELECT t FROM tot), 6) AS share,
           round(log10(1 + 1.0 / digit), 6) AS benford_expected
    FROM digits GROUP BY digit
    """,
)
def diag_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law data-quality profile: the first-significant-digit
    distribution of order totals against the log10(1+1/d) expectation —
    the standard fabricated-data / unit-mixup screen for financial
    columns. Engine-exact by integer doctrine: amounts quantize to cents
    BIGINT and the leading digit comes from the BIGINT's decimal string
    (identical on both engines, no float formatting); shares are plain
    double divisions rounded at 6. One narrow scan + a 9-row aggregate;
    the digit histogram is a map-side partial combine."""
    o = read_table(spark, sf_dir, "orders")
    cents = o.select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("c")
    ).filter(F.col("c") > 0)
    digits = cents.select(
        F.substring(F.col("c").cast("string"), 1, 1).cast("long").alias("digit")
    )
    # Single-action plan (VERDICT r7 #4): the denominator is a 1-row total
    # broadcast-cross-joined onto the 9-row digit histogram instead of a
    # driver-side digits.count() — no second pass over orders, and the
    # query composes as a view.
    tot = digits.agg(F.count(F.lit(1)).cast("long").alias("__t"))
    hist = digits.groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return hist.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        F.round(F.col("n") / F.col("__t"), 6).alias("share"),
        F.round(F.log10(1 + 1.0 / F.col("digit")), 6).alias("benford_expected"),
    )


def _holt_oracle() -> str:
    """Holt fold oracle as a RECURSIVE CTE over (user, step) — one
    iteration advances every series by one ordered point, the pagerank-
    oracle pattern. Not ``list_reduce``: DuckDB 1.0 miscomputes STRUCT
    accumulators across chained reduce steps (later struct_pack fields
    read inconsistent ``acc`` values — verified with a 3-element repro;
    scalar-BIGINT folds like the EWMA oracle are exact, but Holt's
    two-state recurrence doesn't fit one safely-bounded BIGINT). Feeder
    CTEs are MATERIALIZED — DuckDB inlines non-recursive CTEs into
    every iteration otherwise (repo doctrine)."""
    nl = (
        "((2*q.v + 8*(s.l+s.b)"
        " - ((((2*q.v + 8*(s.l+s.b)) % 10) + 10) % 10)) // 10)"
    )
    nb = (
        f"((3*({nl} - s.l) + 7*s.b"
        f" - ((((3*({nl} - s.l) + 7*s.b) % 10) + 10) % 10)) // 10)"
    )
    return f"""
    WITH RECURSIVE q AS MATERIALIZED (
      SELECT user_id,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts) ASC, event_id ASC) AS rn
      FROM events
    ), per AS MATERIALIZED (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_points,
             max(rn) AS mx
      FROM q GROUP BY 1
    ), s AS (
      SELECT user_id, rn, v AS l, CAST(0 AS BIGINT) AS b
      FROM q WHERE rn = 1
      UNION ALL
      SELECT q.user_id, q.rn, {nl} AS l, {nb} AS b
      FROM s JOIN q ON q.user_id = s.user_id AND q.rn = s.rn + 1
    )
    SELECT s.user_id, per.n_points,
           CAST(s.l AS BIGINT) AS holt_level_e6,
           CAST(s.b AS BIGINT) AS holt_trend_e6
    FROM s JOIN per ON per.user_id = s.user_id AND s.rn = per.mx
    """


@register("timeseries_holt_smoothing", _holt_oracle())
def timeseries_holt_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing per series — level AND trend
    (the forecasting baseline one notch past ``timeseries_ewma_fold``'s
    single state): l ← α·x + (1−α)(l+b), b ← β(l−l_prev) + (1−β)b with
    α = 0.2, β = 0.3. A TWO-state recurrence no window frame expresses;
    runs as one ``F.aggregate`` fold over the time-ordered per-series
    array with a struct accumulator. Engine-exact by fixed-point
    doctrine: e6 BIGINT values, each α/β step an integer
    ``div 10`` with an explicit math-mod floor (exact-multiple division
    in DECIMAL — the EWMA lesson), seed = (x₀, 0) on both engines
    (DuckDB's first-element seed is the transformed struct). One
    shuffle of (key, t, v); O(1) ACCUMULATOR but an O(points-per-key)
    sorted array row per series — same documented bound and hot-key
    probe as ``timeseries_ewma_fold`` (10⁷-point single key in ~97 s,
    exact; no guard is wired beyond that)."""
    e = read_table(spark, sf_dir, "events")
    rows = e.select(
        "user_id",
        F.struct(
            F.unix_micros("ts").alias("t"),
            F.col("event_id").alias("eid"),
            F.floor(F.col("value") * 1_000_000 + F.lit(0.5))
            .cast("long")
            .alias("v"),
        ).alias("p"),
    )
    per = rows.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.array_sort(F.collect_list("p")).alias("ps"),
    )

    def idiv10(x):
        m = ((x % 10) + 10) % 10
        return ((x - m).cast("decimal(38,0)") / F.lit(10)).cast("long")

    def step(acc, p):
        lvl = idiv10(2 * p["v"] + 8 * (acc["l"] + acc["b"]))
        trend = idiv10(3 * (lvl - acc["l"]) + 7 * acc["b"])
        return F.when(
            acc.isNull(),
            F.struct(p["v"].alias("l"), F.lit(0).cast("long").alias("b")),
        ).otherwise(F.struct(lvl.alias("l"), trend.alias("b")))

    folded = F.aggregate(
        F.col("ps"), F.lit(None).cast("struct<l:bigint,b:bigint>"), step
    )
    return per.select(
        "user_id",
        "n_points",
        folded["l"].alias("holt_level_e6"),
        folded["b"].alias("holt_trend_e6"),
    )


_WF_WINDOW_US = 43_200_000_000  # 12 hours: chosen so every
# depth 1/2/3 is populated on the testdata (2 h left depth 3 empty and
# the c3 update rule data-unexercised; 12 h splits ~14/100/36 at sf0.01)


def _window_funnel_oracle() -> str:
    """Recursive-CTE replay of the windowed-funnel greedy (same pattern
    as the Holt oracle — one iteration advances every user's ordered
    event stream by one row; feeder CTEs MATERIALIZED per repo
    doctrine)."""
    w = _WF_WINDOW_US
    return f"""
    WITH RECURSIVE q AS MATERIALIZED (
      SELECT user_id, epoch_us(ts) AS t,
             CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
                  ELSE 3 END AS s,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts) ASC, event_id ASC) AS rn
      FROM events WHERE event_type IN ('view', 'click', 'purchase')
    ), per AS MATERIALIZED (
      SELECT user_id, max(rn) AS mx FROM q GROUP BY 1
    ), st AS (
      SELECT user_id, rn,
             CASE WHEN s = 1 THEN t ELSE CAST(-1 AS BIGINT) END AS c1,
             CAST(-1 AS BIGINT) AS c2, CAST(-1 AS BIGINT) AS c3
      FROM q WHERE rn = 1
      UNION ALL
      SELECT q.user_id, q.rn,
             CASE WHEN q.s = 1 THEN q.t ELSE st.c1 END,
             CASE WHEN q.s = 2 AND st.c1 >= 0 AND q.t - st.c1 <= {w}
                  THEN greatest(st.c2, st.c1) ELSE st.c2 END,
             CASE WHEN q.s = 3 AND st.c2 >= 0 AND q.t - st.c2 <= {w}
                  THEN greatest(st.c3, st.c2) ELSE st.c3 END
      FROM st JOIN q ON q.user_id = st.user_id AND q.rn = st.rn + 1
    )
    SELECT st.user_id,
           CAST(CASE WHEN c3 >= 0 THEN 3 WHEN c2 >= 0 THEN 2
                     WHEN c1 >= 0 THEN 1 ELSE 0 END AS BIGINT) AS funnel_depth
    FROM st JOIN per ON per.user_id = st.user_id AND st.rn = per.mx
    """


@register("events_window_funnel", _window_funnel_oracle())
def events_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed funnel depth (the ClickHouse ``windowFunnel`` shape):
    per user, the deepest view → click → purchase chain whose WHOLE SPAN
    fits in a 12-hour window — the conversion metric the plain min-ts
    funnels (``funnel_signup_click_purchase``) cannot express, because
    there the steps may be weeks apart. Greedy over the time-ordered
    stream keeping, per depth, the LATEST viable chain-start timestamp
    (keeping the latest start is optimal for a ≤-window constraint:
    any chain a discarded earlier start could complete, the kept one
    completes too). A single-event state machine no window frame
    expresses → ``F.aggregate`` fold with a 3-field struct accumulator
    and a proper zero seed; updates read only the PREVIOUS state, so one
    event advances at most one stage. One shuffle of (user, t, stage);
    O(1) accumulator but an O(events-per-user) sorted array row per
    user — same documented bound and hot-key probe as the EWMA/Holt
    folds (no guard is wired for pathological users).
    Oracle replays the greedy as a recursive CTE
    (DuckDB's list_reduce both miscomputes struct accumulators and
    cannot seed with a zero element — see the Holt oracle)."""
    e = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    w = _WF_WINDOW_US
    rows = e.select(
        "user_id",
        F.struct(
            F.unix_micros("ts").alias("t"),
            F.col("event_id").alias("eid"),
            F.when(F.col("event_type") == "view", 1)
            .when(F.col("event_type") == "click", 2)
            .otherwise(3)
            .cast("long")
            .alias("s"),
        ).alias("p"),
    )
    per = rows.groupBy("user_id").agg(
        F.array_sort(F.collect_list("p")).alias("ps")
    )
    init = F.struct(
        F.lit(-1).cast("long").alias("c1"),
        F.lit(-1).cast("long").alias("c2"),
        F.lit(-1).cast("long").alias("c3"),
    )

    def step(acc, p):
        c1 = F.when(p["s"] == 1, p["t"]).otherwise(acc["c1"])
        c2 = F.when(
            (p["s"] == 2) & (acc["c1"] >= 0) & (p["t"] - acc["c1"] <= w),
            F.greatest(acc["c2"], acc["c1"]),
        ).otherwise(acc["c2"])
        c3 = F.when(
            (p["s"] == 3) & (acc["c2"] >= 0) & (p["t"] - acc["c2"] <= w),
            F.greatest(acc["c3"], acc["c2"]),
        ).otherwise(acc["c3"])
        return F.struct(c1.alias("c1"), c2.alias("c2"), c3.alias("c3"))

    s = F.aggregate(F.col("ps"), init, step)
    depth = (
        F.when(s["c3"] >= 0, 3)
        .when(s["c2"] >= 0, 2)
        .when(s["c1"] >= 0, 1)
        .otherwise(0)
        .cast("long")
    )
    return per.select("user_id", depth.alias("funnel_depth"))


@register(
    "join_interval_overlap",
    """
    WITH iv AS (
      SELECT user_id, event_id, epoch_us(ts) AS s,
             epoch_us(ts) + 2700000000 AS e
      FROM events
    )
    SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
           CAST(least(a.e, b.e) - greatest(a.s, b.s) AS BIGINT) AS overlap_us
    FROM iv a JOIN iv b
      ON a.user_id = b.user_id AND a.event_id < b.event_id
         AND a.s < b.e AND b.s < a.e
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-OVERLAP self-join (Allen algebra's ``overlaps``/
    ``during``/``meets`` complement of the containment row): pairs of a
    user's 45-minute activity intervals that intersect, with the exact
    overlap duration — the session-collision shape behind concurrency
    billing and dedup of overlapping capture windows. Uses
    ``operators.joins.binned_overlap_join``: both sides explode to
    covering bins, the join is an EQUI-join on (user, bin), and each
    pair survives only in the bin containing its OVERLAP START — a bin
    both intervals necessarily cover, so every overlapping pair appears
    exactly once with no dedup pass and no |L|×|R| nested loop. Oracle
    is the direct inequality self-join (fine at oracle scale; the
    binned plan is the 100 TB shape)."""
    from datamodel_clinicaldata_spark.operators.joins import binned_overlap_join

    e = read_table(spark, sf_dir, "events")
    width = 2_700_000_000  # 45 min
    a = e.select(
        "user_id",
        F.col("event_id").alias("id_a"),
        F.unix_micros("ts").alias("sa"),
        (F.unix_micros("ts") + width).alias("ea"),
    )
    b = e.select(
        "user_id",
        F.col("event_id").alias("id_b"),
        F.unix_micros("ts").alias("sb"),
        (F.unix_micros("ts") + width).alias("eb"),
    )
    return (
        binned_overlap_join(a, b, "user_id", bin_width_us=width)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("user_id", "id_a", "id_b", "overlap_us")
    )


@register(
    "agg_gini_coefficient",
    """
    WITH cust AS (
      SELECT o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ), ranked AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents ASC, o_custkey ASC) AS rk
      FROM cust
    )
    SELECT CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           CAST(((2 * CAST(sum(rk * cents) AS HUGEINT)
                  - (count(*) + 1) * CAST(sum(cents) AS HUGEINT)) * 1000000)
                // (count(*) * CAST(sum(cents) AS HUGEINT)) AS BIGINT)
             AS gini_e6
    FROM ranked
    """,
)
def agg_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue — the concentration
    diagnostic behind "do 20% of sources contribute 80% of tokens"
    questions in corpus curation, computed EXACTLY in integers:
    revenue in cents BIGINT, ranks from the two-phase distributed
    ``ordered_prefix`` (id tiebreak — ties in cents make rank·cents
    order-dependent otherwise... with equal cents any rank permutation
    gives the same Σrk·x, but the id tiebreak also makes the rank
    column itself reproducible), and the closed form
    ``gini = (2·Σ rk·xᵢ − (n+1)·Σx) / (n·Σx)`` emitted as the e6-scaled
    integer quotient — numerator ≈ 2·n·max_cents·n fits in the DECIMAL
    the multiplication promotes to on the Spark side and HUGEINT on the
    oracle side, so no float enters the computation at all."""
    from datamodel_clinicaldata_spark.operators.ranking import ordered_prefix

    o = read_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("cents")
    )
    # r13: counted-small path — A/B at sf0.1: 0.67 → 0.45 s.
    ranked = ordered_prefix(
        cust,
        [F.col("cents").asc(), F.col("o_custkey").asc()],
        rank_col="rk",
        count_small=2_000_000,
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.sum(F.col("rk").cast("decimal(38,0)") * F.col("cents")).alias("__s"),
    )
    num = (
        F.lit(2).cast("decimal(38,0)") * F.col("__s")
        - (F.col("n_customers") + 1).cast("decimal(38,0)")
        * F.col("total_cents")
    ) * F.lit(1_000_000)
    den = F.col("n_customers").cast("decimal(38,0)") * F.col("total_cents")
    # `div` is exact integral division for decimals; `floor(num / den)`
    # would first HALF_UP-round the decimal quotient to scale 6, so a
    # true quotient within 5e-7 below an integer rounds UP before the
    # floor — off by one vs the oracle's exact `//` (ADVICE r7).  The
    # numerator is provably >= 0 (sum(rk*x) >= (n+1)/2 * sum(x)), so
    # truncating `div` and flooring `//` agree.
    return agg.select(
        "n_customers", "total_cents", num.alias("__num"), den.alias("__den")
    ).select(
        "n_customers",
        "total_cents",
        F.expr("__num div __den").cast("long").alias("gini_e6"),
    )


@register(
    "diag_distribution_drift_psi",
    """
    WITH e AS (
      SELECT least(greatest(CAST(floor(value / 50) AS BIGINT), 0), 9)
               AS bin,
             epoch_us(ts) AS us
      FROM events
    ), mid AS (
      SELECT (CAST(min(us) AS BIGINT) + CAST(max(us) AS BIGINT)) // 2 AS m
      FROM e
    ), counts AS (
      SELECT bin,
             CAST(sum(CASE WHEN us <= (SELECT m FROM mid)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
             CAST(sum(CASE WHEN us > (SELECT m FROM mid)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_second
      FROM e GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(n_first) AS BIGINT) AS t1,
             CAST(sum(n_second) AS BIGINT) AS t2,
             CAST(count(*) AS BIGINT) AS b
      FROM counts
    )
    SELECT bin, n_first, n_second,
           CAST(floor(
             ((CAST(n_first + 1 AS DOUBLE) / (t1 + b))
              - (CAST(n_second + 1 AS DOUBLE) / (t2 + b)))
             * ln((CAST(n_first + 1 AS DOUBLE) / (t1 + b))
                  / (CAST(n_second + 1 AS DOUBLE) / (t2 + b)))
             * 1000000000 + 0.5) AS BIGINT) AS psi_term_e9
    FROM counts CROSS JOIN tot
    """,
)
def diag_distribution_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second time
    halves of the event stream — the standard training-vs-serving /
    week-over-week drift screen: per value bin (width 50, clamped to 10 bins — sized so the
    testdata populates every bin; see the repo gate-evidence doctrine),
    the PSI term
    (p−q)·ln(p/q) with add-one smoothing (no ln(0) on an empty bin).
    Consumers sum psi_term_e9 for the headline PSI (>0.2e9 ≈ action).
    Engine-exact by the KL doctrine: each transcendental term quantizes
    to an e9 BIGINT PER BIN (order-insensitive; the per-bin double
    expression is one fixed shape on both engines). Single-pass plan:
    the time midpoint is a 1-row broadcast (min+max in one aggregate,
    integer `div` halving), bin counts are one map-side-combined
    groupBy with conditional sums — the two "halves" never scan
    separately — and the bin/total join is a 10-row broadcast."""
    e = read_table(spark, sf_dir, "events").select(
        F.least(
            F.greatest(F.floor(F.col("value") / 50).cast("long"), F.lit(0)),
            F.lit(9),
        ).alias("bin"),
        F.unix_micros("ts").alias("us"),
    )
    mid = e.agg(
        ((F.min("us") + F.max("us")) / 2).cast("long").alias("m")
    )
    counts = (
        e.crossJoin(F.broadcast(mid))
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("us") <= F.col("m"), 1).otherwise(0))
            .cast("long")
            .alias("n_first"),
            F.sum(F.when(F.col("us") > F.col("m"), 1).otherwise(0))
            .cast("long")
            .alias("n_second"),
        )
    )
    tot = counts.agg(
        F.sum("n_first").cast("long").alias("t1"),
        F.sum("n_second").cast("long").alias("t2"),
        F.count(F.lit(1)).cast("long").alias("b"),
    )
    j = counts.crossJoin(F.broadcast(tot))
    p = (F.col("n_first") + 1).cast("double") / (F.col("t1") + F.col("b"))
    q = (F.col("n_second") + 1).cast("double") / (F.col("t2") + F.col("b"))
    return j.select(
        "bin",
        "n_first",
        "n_second",
        F.floor((p - q) * F.log(p / q) * 1_000_000_000 + F.lit(0.5))
        .cast("long")
        .alias("psi_term_e9"),
    )


@register(
    "feature_robust_scale",
    """
    WITH v AS (
      SELECT event_type, event_id,
             CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v_e3
      FROM events
    ), ranked AS (
      SELECT event_type, v_e3,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY v_e3 ASC, event_id ASC) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM v
    ), med AS (
      SELECT event_type, CAST(n AS BIGINT) AS n, v_e3 AS median_e3
      FROM ranked WHERE rn = (n + 1) // 2
    ), dev AS (
      SELECT v.event_type, abs(v.v_e3 - med.median_e3) AS d_e3, v.event_id
      FROM v JOIN med USING (event_type)
    ), dev_ranked AS (
      SELECT event_type, d_e3,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY d_e3 ASC, event_id ASC) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM dev
    )
    SELECT med.event_type, med.n, med.median_e3,
           dev_ranked.d_e3 AS mad_e3
    FROM med JOIN dev_ranked USING (event_type)
    WHERE dev_ranked.rn = (dev_ranked.n + 1) // 2
    """,
)
def feature_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust scaling statistics per event type: the exact LOWER median
    and MAD (median absolute deviation) of the e3-quantized value — the
    outlier-immune (median, MAD) pair robust z-scoring uses where
    (mean, stddev) would be dragged by heavy tails. Engine-exact by
    rank doctrine: both medians are the rank-(n+1)//2 element under a
    total order (value, event_id) — never an interpolating percentile,
    whose even-count averaging and float interpolation differ across
    engines. Plan: one shuffle on event_type; the two rank windows are
    partition-native; the per-group median dim (|event_types| rows)
    broadcasts back onto the fact for the deviation pass. Two passes
    over events are inherent to MAD (deviations need the median)."""
    e = read_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long").alias("v_e3"),
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("v_e3").asc(), F.col("event_id").asc()
    )
    wn = Window.partitionBy("event_type")
    ranked = e.select(
        "event_type",
        "v_e3",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    med = ranked.filter(F.col("rn") == F.expr("(n + 1) div 2")).select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("v_e3").alias("median_e3"),
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type",
        "event_id",
        F.abs(F.col("v_e3") - F.col("median_e3")).alias("d_e3"),
    )
    wd = Window.partitionBy("event_type").orderBy(
        F.col("d_e3").asc(), F.col("event_id").asc()
    )
    mad = (
        dev.select(
            "event_type",
            "d_e3",
            F.row_number().over(wd).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("event_type", F.col("d_e3").alias("mad_e3"))
    )
    return med.join(mad, "event_type").select(
        "event_type", "n", "median_e3", "mad_e3"
    )


@register(
    "timeseries_cusum_changepoint",
    """
    WITH v AS (
      SELECT user_id, event_id, epoch_us(ts) AS t,
             CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v_e3
      FROM events
    ), ranked AS (
      SELECT user_id,
             CAST(row_number() OVER w AS BIGINT) AS k,
             CAST(sum(v_e3) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS BIGINT) AS cum,
             CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
             CAST(sum(v_e3) OVER (PARTITION BY user_id) AS BIGINT) AS tot
      FROM v
      WINDOW w AS (PARTITION BY user_id ORDER BY t ASC, event_id ASC)
    ), s AS (
      SELECT user_id, k, n, abs(n * cum - k * tot) AS s_abs
      FROM ranked
    ), m AS (
      SELECT user_id, CAST(max(s_abs) AS BIGINT) AS cusum_max FROM s GROUP BY 1
    )
    SELECT s.user_id, CAST(s.n AS BIGINT) AS n, m.cusum_max,
           CAST(min(s.k) AS BIGINT) AS changepoint_k
    FROM s JOIN m ON m.user_id = s.user_id AND s.s_abs = m.cusum_max
    GROUP BY 1, 2, 3
    """,
)
def timeseries_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per series — the classic mean-shift
    screen (where did this user's value level move?): the running
    deviation-from-mean sum S_k = Σ_{i≤k}(v_i − μ), maximized over k.
    Engine-exact with ZERO floats by clearing the mean's denominator:
    n·S_k = n·cum_k − k·total is the same argmax, entirely BIGINT
    (bounded by n²·max|v| ≈ 10¹⁰ at per-user cardinalities; e3
    quantized values). Deterministic changepoint: max |n·S_k| with the
    SMALLEST k on ties. Plan: one shuffle on user_id; the running sum,
    rank, and per-partition totals are three frames over ONE
    partition+sort; the argmax resolves as a groupBy max + self-join on
    the (user, max) pair — no second sort."""
    e = read_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("t"),
        F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long").alias("v_e3"),
    )
    wo = Window.partitionBy("user_id").orderBy(
        F.col("t").asc(), F.col("event_id").asc()
    )
    wrun = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy("user_id")
    s = e.select(
        "user_id",
        F.row_number().over(wo).cast("long").alias("k"),
        F.sum("v_e3").over(wrun).cast("long").alias("cum"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n"),
        F.sum("v_e3").over(wall).cast("long").alias("tot"),
    ).select(
        "user_id",
        "k",
        "n",
        F.abs(F.col("n") * F.col("cum") - F.col("k") * F.col("tot")).alias(
            "s_abs"
        ),
    )
    m = s.groupBy("user_id").agg(F.max("s_abs").cast("long").alias("cusum_max"))
    return (
        s.join(m, ["user_id"])
        .filter(F.col("s_abs") == F.col("cusum_max"))
        .groupBy("user_id", "n", "cusum_max")
        .agg(F.min("k").cast("long").alias("changepoint_k"))
        .select("user_id", "n", "cusum_max", "changepoint_k")
    )


@register(
    "agg_cube_nation_segment",
    """
    SELECT coalesce(n.n_name, 'ALL') AS nation,
           coalesce(c.c_mktsegment, 'ALL') AS segment,
           CAST(GROUPING(n.n_name) * 2 + GROUPING(c.c_mktsegment) AS BIGINT)
             AS grp_level,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS acctbal_cents
    FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY CUBE (n.n_name, c.c_mktsegment)
    """,
)
def agg_cube_nation_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE rollup over (nation × market segment) — all four grouping
    granularities (cell, per-nation, per-segment, grand total) in ONE
    aggregation pass, the OLAP cube the grouping-sets cascade
    (``rollup_time_cascade``) doesn't cover. NULL group keys are
    coalesced to 'ALL' and the standard GROUPING bitmask travels as an
    explicit ``grp_level`` column so subtotal rows are distinguishable
    from a hypothetical literal-'ALL' nation. Account balances quantize
    to cents BIGINT per row BEFORE the sum (c_acctbal is a double;
    order-sensitive float sums across grouping sets is the amplifying
    shape the fixed-point doctrine exists for).

    Scale shape: CUBE expands each row into its 4 grouping-set
    contributions BEFORE the exchange, but partial aggregation
    (map-side combine) collapses them to |distinct cells| per grouping
    set — the shuffle carries ~(25 segments·nations + 25 + 5 + 1) rows
    per mapper, not 4×N. The nation dim joins broadcast."""
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    return (
        j.cube("n_name", "c_mktsegment")
        .agg(
            (F.grouping("n_name") * 2 + F.grouping("c_mktsegment"))
            .cast("long")
            .alias("grp_level"),
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum(
                F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")
            )
            .cast("long")
            .alias("acctbal_cents"),
        )
        .select(
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
            F.coalesce(F.col("c_mktsegment"), F.lit("ALL")).alias("segment"),
            "grp_level",
            "n_customers",
            "acctbal_cents",
        )
    )


@register(
    "timeseries_rolling_corr",
    """
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', ts::DATE) AS day_idx,
             CAST(sum(CASE WHEN event_type = 'click'
                           THEN 1 ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN event_type = 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    w AS (
      SELECT day_idx,
             CAST(count(*) OVER win AS BIGINT) AS n_days,
             CAST(sum(x) OVER win AS BIGINT) AS sx,
             CAST(sum(y) OVER win AS BIGINT) AS sy,
             CAST(sum(x * x) OVER win AS BIGINT) AS sxx,
             CAST(sum(y * y) OVER win AS BIGINT) AS syy,
             CAST(sum(x * y) OVER win AS BIGINT) AS sxy
      FROM daily
      WINDOW win AS (ORDER BY day_idx
                     RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(day_idx AS BIGINT) AS day_idx, n_days,
           CASE WHEN n_days * sxx - sx * sx > 0
                 AND n_days * syy - sy * sy > 0
                THEN CAST(floor(
                       (n_days * sxy - sx * sy) /
                       sqrt((n_days * sxx - sx * sx)::DOUBLE *
                            (n_days * syy - sy * sy)::DOUBLE)
                       * 1000000.0 + 0.5) AS BIGINT)
                ELSE NULL END AS corr_e6
    FROM w
    """,
)
def timeseries_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day rolling Pearson correlation between two event
    streams (daily click count vs daily purchase count) — the co-moving
    metric screen (are these signals coupled this week?) behind ops
    dashboards and feature-drift monitors. Calendar-true: the frame is
    RANGE over an epoch-day index, so a missing day shrinks the window
    rather than silently stretching it to 7 rows.

    Engine-exactness: daily counts are BIGINT, so the five rolling
    moment sums (Σx, Σy, Σx², Σy², Σxy) are exact integers; the only
    float work is ONE fixed-shape IEEE expression
    ``num / sqrt(denx·deny)`` over those integers (the correlation-
    over-exact-moments doctrine shared with
    ``diag_corr_embedding_length``), e6-quantized. The denominators are
    cast to double BEFORE their product so BIGINT·BIGINT cannot
    overflow regardless of per-day volume. Degenerate windows
    (zero-variance series) emit NULL via the same integer predicate on
    both engines.

    Scale shape: the corpus-size work is the per-day conditional-count
    aggregate (map-side combined, shuffles |days| rows); the rolling
    window runs over the ≤|calendar days| post-agg frame — bounded by
    the calendar regardless of SF (window_audit BOUNDED_OK), the same
    justification as ``events_new_vs_returning``."""
    e = read_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day_idx")
    ).agg(
        F.sum((F.col("event_type") == "click").cast("long"))
        .cast("long")
        .alias("x"),
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .cast("long")
        .alias("y"),
    )
    win = Window.orderBy("day_idx").rangeBetween(-6, 0)
    w = daily.select(
        "day_idx",
        F.count(F.lit(1)).over(win).cast("long").alias("n_days"),
        F.sum("x").over(win).cast("long").alias("sx"),
        F.sum("y").over(win).cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(win).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(win).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(win).cast("long").alias("sxy"),
    )
    num = F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n_days") * F.col("syy") - F.col("sy") * F.col("sy")
    corr = F.floor(
        num / F.sqrt(denx.cast("double") * deny.cast("double")) * 1_000_000
        + F.lit(0.5)
    ).cast("long")
    return w.select(
        "day_idx",
        "n_days",
        F.when((denx > 0) & (deny > 0), corr).alias("corr_e6"),
    )


@register(
    "feature_target_encoding",
    """
    WITH o AS (
      SELECT o.o_orderkey, c.c_mktsegment AS segment,
             CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    s AS (
      SELECT segment,
             CAST(sum(price_cents) AS HUGEINT) AS seg_sum,
             CAST(count(*) AS BIGINT) AS seg_n
      FROM o GROUP BY segment
    )
    SELECT o.o_orderkey, o.segment, o.price_cents,
           CASE WHEN s.seg_n > 1
                THEN CAST(((s.seg_sum - o.price_cents) * 1000000)
                          // (s.seg_n - 1) AS BIGINT)
                ELSE NULL END AS loo_enc_cents_e6
    FROM o JOIN s USING (segment)
    """,
)
def feature_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding — the standard high-cardinality
    categorical → numeric feature for gradient-boosted / linear models:
    each order's segment is encoded as the mean order value of all
    OTHER orders in that segment, so the row's own target never leaks
    into its feature (the encoding used at train time; at serving time
    the full-group mean applies). Exact by construction: prices
    quantize to cents BIGINT per row, the LOO mean is the integral
    quotient ((seg_sum − x)·10⁶) div (n−1) — Spark ``div`` and DuckDB
    ``//`` both truncate toward zero, so the engines agree even on
    negative-balance corners; the subtraction happens in decimal(38,0)/
    HUGEINT so the ×10⁶ product cannot overflow at any SF. Singleton
    groups emit NULL (no other rows to average) via the same integer
    predicate on both engines.

    Scale shape: one fact⟶dim equi-join (AQE picks broadcast when
    customer fits), a 5-row per-segment aggregate (map-side combined),
    and the stats joined back by broadcast — bounded by segment
    cardinality, not data size. No window over the fact table: a
    PARTITION BY segment window would funnel whole segments through
    single tasks (5 giant skewed partitions at 100 TB); the
    aggregate-then-broadcast-back shape is the skew-safe equivalent."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey",
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("price_cents"),
    )
    s = j.groupBy("segment").agg(
        F.sum(F.col("price_cents").cast("decimal(38,0)")).alias("seg_sum"),
        F.count(F.lit(1)).cast("long").alias("seg_n"),
    )
    enc = (
        j.join(F.broadcast(s), "segment")
        .withColumn(
            "__num",
            (F.col("seg_sum") - F.col("price_cents")) * F.lit(1_000_000),
        )
        .withColumn(
            "loo_enc_cents_e6",
            F.when(
                F.col("seg_n") > 1,
                F.expr("__num div (seg_n - 1)").cast("long"),
            ),
        )
    )
    return enc.select(
        "o_orderkey", "segment", "price_cents", "loo_enc_cents_e6"
    )


@register(
    "pii_k_anonymity",
    """
    WITH g AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band,
             CAST(count(*) AS BIGINT) AS n
      FROM customer GROUP BY 1, 2, 3
    )
    SELECT CAST(k.k AS BIGINT) AS k,
           CAST(count(*) FILTER (WHERE g.n < k.k) AS BIGINT)
             AS groups_below_k,
           CAST(coalesce(sum(g.n) FILTER (WHERE g.n < k.k), 0) AS BIGINT)
             AS rows_below_k,
           CAST(count(*) AS BIGINT) AS total_groups
    FROM g CROSS JOIN (VALUES (2), (5), (10), (25)) k(k)
    GROUP BY k.k
    """,
)
def pii_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over a quasi-identifier tuple — the privacy
    governance check run before releasing a dataset: a row is
    re-identifiable when its (nation, market segment, balance band)
    combination is shared by fewer than k individuals. Output is the
    risk PROFILE across k ∈ {2, 5, 10, 25}: how many quasi-identifier
    groups (and how many underlying rows) fall below each threshold —
    the profile form stays informative at every SF, where a single
    fixed k would saturate (sf0.001: every group small) or empty out
    (sf0.1: 2 risky groups at k=5).

    Plan: ONE aggregate builds the group-size frame (map-side combined
    shuffle of quasi-identifier keys — the only corpus-size work), then
    the 4-threshold profile folds over that small frame via a
    cross-join with a 4-row literal table and conditional counts. At
    100 TB the group frame is |distinct QI tuples| rows — bounded by
    the identifier domain, not the data; everything downstream is
    dimension-sized."""
    c = read_table(spark, sf_dir, "customer")
    g = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_band"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    ks = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in (2, 5, 10, 25)])).alias("k")
    )
    return (
        g.crossJoin(F.broadcast(ks))
        .groupBy(F.col("k").cast("long").alias("k"))
        .agg(
            F.sum((F.col("n") < F.col("k")).cast("long"))
            .cast("long")
            .alias("groups_below_k"),
            F.sum(F.when(F.col("n") < F.col("k"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("rows_below_k"),
            F.count(F.lit(1)).cast("long").alias("total_groups"),
        )
    )


@register(
    "timeseries_autocorr",
    """
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', ts::DATE) AS day_idx,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    pairs AS (
      SELECT l.lag, a.x AS xa, b.x AS xb
      FROM (VALUES (1), (2), (3), (4), (5), (6), (7)) l(lag)
      JOIN daily a ON TRUE
      JOIN daily b ON b.day_idx = a.day_idx + l.lag
    ),
    m AS (
      SELECT lag,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(xa) AS BIGINT) AS sx, CAST(sum(xb) AS BIGINT) AS sy,
             CAST(sum(xa * xa) AS BIGINT) AS sxx,
             CAST(sum(xb * xb) AS BIGINT) AS syy,
             CAST(sum(xa * xb) AS BIGINT) AS sxy
      FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
           CASE WHEN n_pairs * sxx - sx * sx > 0
                 AND n_pairs * syy - sy * sy > 0
                THEN CAST(floor(
                       (n_pairs * sxy - sx * sy) /
                       sqrt((n_pairs * sxx - sx * sx)::DOUBLE *
                            (n_pairs * syy - sy * sy)::DOUBLE)
                       * 1000000.0 + 0.5) AS BIGINT)
                ELSE NULL END AS acf_e6
    FROM m
    """,
)
def timeseries_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..7 sample autocorrelation of the daily event-volume series
    — the seasonality/persistence screen (is there a weekly cycle? does
    volume mean-revert?) run before any forecasting model. Distinct
    plan shape from ``timeseries_rolling_corr``: a LAG SELF-JOIN on the
    day index (each lag compares the series against its shifted self
    over the overlapping span) instead of a sliding frame, which is the
    shape that generalizes to irregular/multi-series ACF where a RANGE
    window cannot express the pairing.

    Engine-exactness: daily counts are BIGINT so all five moment sums
    per lag are exact integers; one fixed-shape IEEE
    ``num / sqrt(denx·deny)`` expression at the end, e6-quantized,
    with the denominators cast to double BEFORE their product
    (overflow-proof), NULL on zero-variance spans — the shared
    correlation-over-exact-moments doctrine.

    Scale shape: corpus-size work is the single per-day count
    aggregate; the lag join and moment fold run over the ≤|calendar
    days|·7 post-agg frame (the 7-row lag table broadcasts). No
    windows, no skew: per-lag groups are calendar-bounded."""
    e = read_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day_idx")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    lags = spark.range(1).select(
        F.explode(F.array(*[F.lit(i) for i in range(1, 8)])).alias("lag")
    )
    a = daily.select(F.col("day_idx").alias("da"), F.col("x").alias("xa"))
    b = daily.select(F.col("day_idx").alias("db"), F.col("x").alias("xb"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("db") == F.col("da") + F.col("lag"))
    )
    m = pairs.groupBy(F.col("lag").cast("long").alias("lag")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("xa").cast("long").alias("sx"),
        F.sum("xb").cast("long").alias("sy"),
        F.sum(F.col("xa") * F.col("xa")).cast("long").alias("sxx"),
        F.sum(F.col("xb") * F.col("xb")).cast("long").alias("syy"),
        F.sum(F.col("xa") * F.col("xb")).cast("long").alias("sxy"),
    )
    num = F.col("n_pairs") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n_pairs") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n_pairs") * F.col("syy") - F.col("sy") * F.col("sy")
    acf = F.floor(
        num / F.sqrt(denx.cast("double") * deny.cast("double")) * 1_000_000
        + F.lit(0.5)
    ).cast("long")
    return m.select(
        "lag",
        "n_pairs",
        F.when((denx > 0) & (deny > 0), acf).alias("acf_e6"),
    )


@register(
    "agg_skyline_pareto",
    """
    WITH pts AS (
      SELECT CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents,
             CAST(p_size AS BIGINT) AS p_size,
             CAST(count(*) AS BIGINT) AS n_parts
      FROM part GROUP BY 1, 2
    ),
    w AS (
      SELECT price_cents, p_size, n_parts,
             min(p_size) OVER (ORDER BY price_cents, p_size
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING) AS pm
      FROM pts
    )
    SELECT price_cents, p_size, n_parts
    FROM w WHERE pm IS NULL OR p_size < pm
    """,
)
def agg_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto-front) query — the classic multi-criteria
    OLAP operator (Börzsönyi et al., ICDE 2001): the parts no other
    part beats on BOTH price and size (minimize both). Distinct from
    ``agg_pareto_abc`` (share-of-total ABC banding): skyline is a
    DOMINANCE filter, the "show me the efficient frontier" query behind
    product search and cost/perf trade-off dashboards.

    Algorithm, distributed: collapse to DISTINCT (price, size) points
    with multiplicity (bounded by the value domain, not the row count —
    after this, dominance among duplicates is moot since equal points
    never dominate each other), then one ``ordered_prefix`` pass in
    (price asc, size asc) order carrying the running max of the
    composite ``g = −(size·C + price)`` with C > max price: a point
    survives iff its inclusive running max equals its own g. Proof
    sketch: over distinct sorted points, g is injective and a prior
    point has size' < size (strict dominator) or size' = size (then
    price' < price, also a dominator) exactly when its g exceeds ours —
    so "g is a new running max" ⟺ "no dominator precedes". One exact
    pass, no self-join, no quadratic NOT-EXISTS; the oracle states the
    same frontier via the exclusive-prefix-min window form.

    Scale shape: one map-side-combined aggregate to the domain-bounded
    point frame, then ordered_prefix's single range exchange (the
    distributed substitute for the unpartitioned window a naive skyline
    would use — its only unpartitioned window is the ≤n_partitions
    offsets frame). At 100 TB the point frame is |price domain × size
    domain| ≤ ~10M rows regardless of input size."""
    from datamodel_clinicaldata_spark.operators.ranking import ordered_prefix

    p = read_table(spark, sf_dir, "part")
    pts = p.groupBy(
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("price_cents"),
        F.col("p_size").cast("long").alias("p_size"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_parts"))
    C = 10_000_000  # > max price_cents; keeps g injective over points
    scored = pts.withColumn(
        "__g", -(F.col("p_size") * F.lit(C) + F.col("price_cents"))
    )
    # r13: counted-small path — A/B at sf0.1: 0.62 → 0.44 s.
    pref = ordered_prefix(
        scored,
        [F.col("price_cents").asc(), F.col("p_size").asc()],
        running_max={"__g": "__gmax"},
        count_small=2_000_000,
    )
    return pref.filter(F.col("__gmax") == F.col("__g")).select(
        "price_cents", "p_size", "n_parts"
    )


@register(
    "events_longest_streak",
    """
    WITH d0 AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '1970-01-01', ts::DATE) AS di
      FROM events
    ),
    g AS (
      SELECT user_id,
             di - row_number() OVER (PARTITION BY user_id ORDER BY di)
               AS grp
      FROM d0
    ),
    s AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS len
      FROM g GROUP BY user_id, grp
    )
    SELECT user_id,
           CAST(sum(len) AS BIGINT) AS n_active_days,
           CAST(max(len) AS BIGINT) AS longest_streak,
           CAST(count(*) AS BIGINT) AS n_streaks
    FROM s GROUP BY user_id
    """,
)
def events_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per-user longest run of CONSECUTIVE active
    calendar days — the engagement-streak metric (Duolingo-style) and
    the canonical SQL islands pattern, which no other registered query
    exercises (``pattern_consecutive_click_purchase`` is event-adjacency
    within a sequence; this is calendar adjacency with gaps). The
    identity: for distinct active days sorted per user,
    ``day_index − row_number()`` is constant exactly within a
    consecutive run, so one partitioned window + two aggregates recover
    every streak. Probed to bisect: longest streaks span 5–30 days
    across users at every SF.

    All windows are partitioned by user_id (no global ordering
    anywhere); the distinct-day projection shuffles (user, day) pairs
    once and everything after is per-user. Integer-only output. At
    100 TB per-user day sets are calendar-bounded (≤ span days), so no
    skew: the heaviest user holds ≤|calendar| rows after the
    distinct."""
    e = read_table(spark, sf_dir, "events")
    d0 = e.select(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("di"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("di")
    g = d0.withColumn("grp", F.col("di") - F.row_number().over(w))
    s = g.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("len")
    )
    return s.groupBy("user_id").agg(
        F.sum("len").cast("long").alias("n_active_days"),
        F.max("len").cast("long").alias("longest_streak"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
    )


@register(
    "events_top_paths",
    """
    WITH l AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR CAST(floor(epoch(ts)) AS BIGINT)
                       - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT)
                       > 43200
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts, event_id, event_type,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM l
    ),
    r AS (
      SELECT user_id, sid, event_type,
             row_number() OVER (PARTITION BY user_id, sid
                                ORDER BY ts, event_id) AS rn
      FROM s
    ),
    p AS (
      SELECT user_id, sid,
             string_agg(event_type, '>' ORDER BY rn) AS path
      FROM r WHERE rn <= 3 GROUP BY user_id, sid
    ),
    c AS (SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
          FROM p GROUP BY path)
    SELECT path, n_sessions,
           CAST(row_number() OVER (ORDER BY n_sessions DESC, path)
                AS BIGINT) AS rank
    FROM c ORDER BY n_sessions DESC, path LIMIT 20
    """,
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session-opening paths — clickstream path analysis: which
    3-step event-type sequences do sessions start with, and how often?
    The product-analytics "path exploration" query (GA4/Amplitude
    style). Sessions are 12-hour-gap islands per user — the threshold
    the corpus's own interarrival histogram supports (median session
    length 2 events at the 12 h cut; a 30 min cut would make every
    session a singleton and the path trivially depth-1).

    Determinism: ordering inside a user is (ts, event_id) — the id
    tie-break doctrine; gap comparison uses floor-of-epoch-seconds on
    BOTH engines (sub-second timestamps truncate identically); the
    top-20 ranks on (count desc, path asc), a total order. Path
    assembly sorts (rn, type) structs in-plan, never relying on
    collect_list order.

    Scale shape: two window passes — session ids over the user
    partition, then in-session rank over (user, session); the second
    exchange is the price of the refined key, both partitioned (no
    global windows). The rn ≤ 3 filter caps the per-session state
    BEFORE aggregation (the collect_list holds ≤3 structs — no
    unbounded-session skyscraper rows), and the final count + top-k is
    ``topk_ranked`` (TakeOrdered, never a global sort)."""
    from datamodel_clinicaldata_spark.operators.ranking import topk_ranked

    e = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.col("ts").cast("long")
    prev_sec = F.lag(sec).over(wu)
    l = e.withColumn(
        "brk",
        F.when(
            prev_sec.isNull() | ((sec - prev_sec) > 43200), F.lit(1)
        ).otherwise(F.lit(0)),
    )
    s = l.withColumn(
        "sid",
        F.sum("brk").over(wu.rowsBetween(Window.unboundedPreceding, 0)),
    )
    ws = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    r = s.withColumn("rn", F.row_number().over(ws)).filter(F.col("rn") <= 3)
    p = r.groupBy("user_id", "sid").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("rn", "event_type"))
                ),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path")
    )
    c = p.groupBy("path").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions")
    )
    return topk_ranked(
        c, [F.col("n_sessions").desc(), F.col("path").asc()], k=20
    ).select("path", "n_sessions", "rank")


@register(
    "diag_chisq_independence",
    """
    WITH c AS (
      SELECT event_type,
             CAST(date_part('isodow', ts) AS BIGINT) AS dow,
             CAST(count(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ),
    t AS (
      SELECT CAST(sum(o) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_cells
      FROM c
    ),
    m AS (
      SELECT c.event_type, c.dow, c.o,
             CAST(sum(c.o) OVER (PARTITION BY c.event_type) AS BIGINT) AS r,
             CAST(sum(c.o) OVER (PARTITION BY c.dow) AS BIGINT) AS col
      FROM c
    )
    SELECT t.n AS n_events, t.n_cells,
           CAST(sum(
             (CAST(m.o AS HUGEINT) * t.n - CAST(m.r AS HUGEINT) * m.col)
             * (CAST(m.o AS HUGEINT) * t.n - CAST(m.r AS HUGEINT) * m.col)
             * 1000000
             // (CAST(m.r AS HUGEINT) * m.col * t.n)
           ) AS BIGINT) AS chisq_e6
    FROM m, t
    GROUP BY t.n, t.n_cells
    """,
)
def diag_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test between event type and
    ISO weekday — the categorical-association screen (is behavior
    day-of-week dependent?) behind seasonality diagnostics and feature
    selection. χ² = Σ (o−e)²/e with e = row·col/N; clearing the
    rational denominator gives the per-cell term
    (o·N − r·c)² / (r·c·N), which this query evaluates ENTIRELY in
    integer arithmetic: each term is an e6-quantized integral quotient
    (decimal(38,0)/HUGEINT — o·N alone reaches ~10¹⁰ and its square
    10²⁰, past int64) summed exactly, so no float enters at any point
    and accumulation order cannot move the statistic.

    Scale shape: corpus-size work is ONE conditional-count aggregate to
    the ≤|types|·|weekdays| contingency frame (35 cells here); margins
    come from two windows over that dimension-bounded frame and the
    final fold is a 1-row aggregate. The single N-row total rides the
    same contingency frame (no second scan — the plan-folded-totals
    doctrine from r7 #4)."""
    e = read_table(spark, sf_dir, "events")
    c = e.groupBy(
        "event_type",
        F.dayofweek(F.col("ts")).alias("__dow_raw"),
    ).agg(F.count(F.lit(1)).cast("long").alias("o"))
    # ISO weekday (Mon=1..Sun=7) from Spark's Sun=1..Sat=7 dayofweek
    c = c.select(
        "event_type",
        ((F.col("__dow_raw") + 5) % 7 + 1).cast("long").alias("dow"),
        "o",
    )
    wr = Window.partitionBy("event_type")
    wc = Window.partitionBy("dow")
    m = c.select(
        "event_type",
        "dow",
        "o",
        F.sum("o").over(wr).cast("long").alias("r"),
        F.sum("o").over(wc).cast("long").alias("col"),
    )
    n = F.sum("o").cast("long")
    term = F.expr(
        "(CAST(o AS DECIMAL(38,0)) * __n - CAST(r AS DECIMAL(38,0)) * col)"
        " * (CAST(o AS DECIMAL(38,0)) * __n - CAST(r AS DECIMAL(38,0)) * col)"
        " * 1000000 div (CAST(r AS DECIMAL(38,0)) * col * __n)"
    )
    # Totals as a GLOBAL window over the ≤36-cell contingency frame —
    # a separate 1-row aggregate cross-joined back would re-execute the
    # events scan (Spark lineage re-runs; the SQL CTE the oracle reads
    # once is not how DataFrames share). The unpartitioned window is
    # bounded by |types|·|weekdays| (window_audit BOUNDED_OK).
    wall = Window.partitionBy()
    m2 = m.select(
        "event_type",
        "dow",
        "o",
        "r",
        "col",
        F.sum("o").over(wall).cast("long").alias("__n"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n_cells"),
    )
    return (
        m2.groupBy(F.col("__n").alias("n_events"), "n_cells")
        .agg(F.sum(term).cast("long").alias("chisq_e6"))
        .select("n_events", "n_cells", "chisq_e6")
    )


@register(
    "events_user_entropy",
    """
    WITH c AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    t AS (
      SELECT user_id, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1
    )
    SELECT c.user_id,
           CAST(max(t.n) AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_types,
           round(CAST(sum(CAST(floor(
                     -(CAST(c.c AS DOUBLE) / t.n)
                      * ln(CAST(c.c AS DOUBLE) / t.n)
                     * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
                 / 1000000000000.0, 4) AS entropy_nats
    FROM c JOIN t USING (user_id)
    GROUP BY c.user_id
    """,
)
def events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Shannon entropy of the event-type distribution — the
    behavioral-diversity feature (a 0-entropy user does one thing; a
    log|types| user does everything uniformly) used for segmentation
    and bot screening. Follows the KL-divergence engine-exactness
    doctrine verbatim (``text_source_kl_divergence``): each probability
    is one double division of exact BIGINT counts, each −p·ln p term is
    the identical IEEE double on both engines and quantizes to a 10⁻¹²
    fixed-point BIGINT BEFORE the per-user sum (the reported statistic
    must not be a combine-order-dependent float sum), one cast +
    division + round(4) at output. Σp = 1 bounds the term set so the
    e12 sum cannot overflow.

    Scale shape: one conditional-count aggregate to the (user × type)
    frame, per-user totals as a second map-side-combined aggregate of
    that frame (NOT a window over it — at 100 TB a per-user window and
    a groupBy cost the same shuffle, but the aggregate's frame is
    |users| rows, smaller state), one equi-join back on user_id, one
    final per-user fold. Everything after the first aggregate is
    bounded by |users|·|types|."""
    e = read_table(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    t = c.groupBy("user_id").agg(F.sum("c").cast("long").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    term = F.floor(-p * F.log(p) * 1_000_000_000_000.0 + F.lit(0.5)).cast(
        "long"
    )
    return (
        c.join(t, "user_id")
        .groupBy("user_id")
        .agg(
            F.max("n").cast("long").alias("n_events"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.round(
                F.sum(term).cast("double") / 1_000_000_000_000.0, 4
            ).alias("entropy_nats"),
        )
    )


@register(
    "diag_anova_returnflag",
    """
    WITH g AS (
      SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS HUGEINT) AS s_g,
             CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                      * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS HUGEINT) AS q_g
      FROM lineitem GROUP BY 1
    ),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n_g) AS BIGINT) AS n,
             CAST(sum(s_g) AS HUGEINT) AS s,
             CAST(sum((q_g * n_g - s_g * s_g) * 1000000 // n_g)
                  AS HUGEINT) AS ssw_e6,
             CAST(sum((s_g * s_g * 1000000) // n_g) AS HUGEINT) AS ssb_part
      FROM g
    )
    SELECT k, n,
           CAST(ssw_e6 AS DOUBLE) / 1000000.0 AS ssw_cents2,
           CAST(ssb_part - (s * s * 1000000) // n AS DOUBLE) / 1000000.0
             AS ssb_cents2,
           CAST(((ssb_part - (s * s * 1000000) // n) * (n - k) * 1000000)
                // (ssw_e6 * (k - 1)) AS BIGINT) AS f_e6
    FROM t
    """,
)
def diag_anova_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F-statistic: does mean line-item price differ
    across return-flag classes (R/A/N)? The between/within variance-ratio test behind
    "is this categorical feature informative" screens. Sums of squares
    from the per-group moment identity (SSW = Σ_g (Q_g − S_g²/n_g),
    SSB = Σ_g S_g²/n_g − S²/N) with every rational term cleared to an
    e6-quantized INTEGRAL quotient in decimal(38,0)/HUGEINT — cents
    squares reach ~10²⁴ and the F numerator ~10³⁰, far past int64 but
    exact in 128-bit — so no float enters the statistic and group
    combine-order cannot move it; F_e6 itself is one more integral
    quotient. (The quantization perturbs F by <10⁻⁶ relative — the
    doctrine's standard trade.)

    Scale shape: ONE map-side-combined aggregate carries (n, Σx, Σx²)
    per return flag — the classic distributive-moments pattern, a single
    shuffle of 3 keys; everything downstream is a 7-row fold. No
    windows, no joins, no second scan."""
    li = read_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum(cents.cast("decimal(38,0)")).alias("s_g"),
        F.sum(
            (cents.cast("decimal(38,0)") * cents.cast("decimal(38,0)"))
        ).alias("q_g"),
    )
    # Exact decimal floor-division: Spark's `div` returns BIGINT and
    # silently WRAPS when the quotient itself exceeds int64 (these
    # intermediate quotients reach ~10²³); (num − pmod(num, den)) / den
    # divides exactly (zero remainder ⇒ the decimal division is exact)
    # and stays in decimal(38,*). All operands here are non-negative
    # (Cauchy–Schwarz), so floor ≡ DuckDB's truncating `//`.
    def fdiv(num: str, den: str) -> str:
        return (
            f"CAST((({num}) - pmod(({num}), ({den}))) / ({den})"
            " AS DECIMAL(38,0))"
        )

    t = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum(F.col("s_g")).cast("decimal(38,0)").alias("s"),
        F.sum(
            F.expr(fdiv("(q_g * n_g - s_g * s_g) * 1000000", "n_g"))
        ).cast("decimal(38,0)").alias("ssw_e6"),
        F.sum(F.expr(fdiv("s_g * s_g * 1000000", "n_g")))
        .cast("decimal(38,0)")
        .alias("ssb_part"),
    )
    ssb_e6 = f"(ssb_part - {fdiv('s * s * 1000000', 'n')})"
    return t.select(
        "k",
        "n",
        (F.col("ssw_e6").cast("double") / 1_000_000.0).alias("ssw_cents2"),
        (F.expr(f"CAST({ssb_e6} AS DOUBLE)") / 1_000_000.0).alias(
            "ssb_cents2"
        ),
        F.expr(
            f"CAST({ssb_e6} * (n - k) * 1000000"
            " div (ssw_e6 * (k - 1)) AS BIGINT)"
        ).alias("f_e6"),
    )


@register(
    "agg_weighted_quantiles",
    """
    WITH pts AS (
      SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      FROM lineitem GROUP BY 1
    ),
    c AS (
      SELECT v, w,
             CAST(sum(w) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum
      FROM pts
    ),
    t AS (SELECT CAST(sum(w) AS BIGINT) AS total FROM pts)
    SELECT t.total AS total_weight,
           CAST(min(CASE WHEN 4 * c.cum >= t.total THEN c.v END) AS BIGINT)
             AS wq25_cents,
           CAST(min(CASE WHEN 2 * c.cum >= t.total THEN c.v END) AS BIGINT)
             AS wmedian_cents,
           CAST(min(CASE WHEN 4 * c.cum >= 3 * t.total THEN c.v END)
                AS BIGINT) AS wq75_cents
    FROM c, t
    GROUP BY t.total
    """,
)
def agg_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted quantiles (p25/p50/p75 of line-item price weighted
    by quantity) — the inventory-weighted robust statistic that
    ``approx_percentile`` cannot give exactly and per-row sorting cannot
    give scalably. The quantile boundary is the integer cross-multiply
    ``4·cum ≥ k·total`` (share-boundary doctrine — no float division
    anywhere), evaluated on the running weight sum.

    Distributed shape: prices collapse to the DISTINCT value domain
    with summed weights (domain-bounded frame, the skyline trick), the
    running weight sum comes from ONE ``ordered_prefix`` range-shuffle
    pass (never an unpartitioned window over the value frame), the
    1-row total broadcasts back (plan-folded, no second scan), and the
    three boundary picks are conditional mins in one aggregate. At
    100 TB: one map-side-combined aggregate over cents keys + one
    range exchange of the ≤|price domain| frame."""
    from datamodel_clinicaldata_spark.operators.ranking import ordered_prefix

    li = read_table(spark, sf_dir, "lineitem")
    pts = li.groupBy(
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("v")
    ).agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("w"))
    c = ordered_prefix(
        pts, [F.col("v").asc()], running_sum={"w": "cum"}
    ).select("v", "w", F.col("cum").cast("long").alias("cum"))
    # Total = max running sum, derived from c (which ordered_prefix
    # materializes via localCheckpoint) — NOT from a second aggregate
    # over pts, which would re-scan lineitem (plan-folded-totals
    # doctrine, r7 #4).
    t = c.agg(F.max("cum").cast("long").alias("total"))
    j = c.crossJoin(F.broadcast(t))
    return j.groupBy(F.col("total").alias("total_weight")).agg(
        F.min(F.when(4 * F.col("cum") >= F.col("total"), F.col("v")))
        .cast("long")
        .alias("wq25_cents"),
        F.min(F.when(2 * F.col("cum") >= F.col("total"), F.col("v")))
        .cast("long")
        .alias("wmedian_cents"),
        F.min(F.when(4 * F.col("cum") >= 3 * F.col("total"), F.col("v")))
        .cast("long")
        .alias("wq75_cents"),
    )


@register(
    "orders_seasonal_index",
    """
    WITH m AS (
      SELECT CAST(date_part('month', o_orderdate) AS BIGINT) AS month,
             CAST(count(DISTINCT date_trunc('month', o_orderdate))
                  AS BIGINT) AS n_periods,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS HUGEINT) AS rev
      FROM orders GROUP BY 1
    ),
    t AS (
      SELECT CAST(sum(rev) AS HUGEINT) AS total,
             CAST(sum(n_periods) AS BIGINT) AS k
      FROM m
    )
    SELECT m.month, m.n_periods,
           CAST(m.rev AS BIGINT) AS rev_cents,
           CAST((m.rev * t.k * 1000000) // (m.n_periods * t.total)
                AS BIGINT) AS seasonal_index_e6
    FROM m, t
    """,
)
def orders_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal index per calendar month: average revenue of
    each month-of-year across the order history, normalized by the
    overall per-period average (index 10⁶ = an average month; > 10⁶ =
    seasonally strong). n_periods counts the DISTINCT (year, month)
    periods contributing, so partial first/last years don't bias the
    per-period average — the ratio-of-averages clears to one integral
    quotient (rev_m·K·10⁶) div (k_m·total) in HUGEINT/decimal(38,0)
    (rev·K·10⁶ passes int64 at scale; the quotient itself is ~10⁶ so
    Spark's div-wrap trap does not bite).

    Scale shape: one aggregate to 12 rows (count-distinct of the
    ≤|months| period keys rides the same pass as an expand), the 1-row
    total broadcasts back. Nothing downstream exceeds 12 rows."""
    o = read_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    m = o.groupBy(
        F.month(F.col("o_orderdate")).cast("long").alias("month")
    ).agg(
        F.count_distinct(F.date_trunc("month", F.col("o_orderdate")))
        .cast("long")
        .alias("n_periods"),
        F.sum(cents.cast("decimal(38,0)")).alias("rev"),
    )
    t = m.agg(
        F.sum("rev").cast("decimal(38,0)").alias("total"),
        F.sum("n_periods").cast("long").alias("k"),
    )
    return m.crossJoin(F.broadcast(t)).select(
        "month",
        "n_periods",
        F.col("rev").cast("long").alias("rev_cents"),
        F.expr(
            "CAST(rev * k * 1000000 div (n_periods * total) AS BIGINT)"
        ).alias("seasonal_index_e6"),
    )


@register(
    "window_rolling_regression",
    """
    WITH daily AS (
      SELECT date_diff('day', DATE '1992-01-01', o_orderdate) AS x,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    w AS (
      SELECT x,
             CAST(count(*) OVER win AS BIGINT) AS n_days,
             CAST(sum(x) OVER win AS HUGEINT) AS sx,
             CAST(sum(y) OVER win AS HUGEINT) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * x) OVER win AS HUGEINT) AS sxx,
             CAST(sum(CAST(x AS HUGEINT) * y) OVER win AS HUGEINT) AS sxy
      FROM daily
      WINDOW win AS (ORDER BY x RANGE BETWEEN 27 PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(x AS BIGINT) AS day_idx, n_days,
           CASE WHEN n_days * sxx - sx * sx > 0
                THEN CAST((n_days * sxy - sx * sy) * 1000000
                          // (n_days * sxx - sx * sx) AS BIGINT)
                ELSE NULL END AS slope_cents_e6
    FROM w
    """,
)
def window_rolling_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 28-day OLS revenue-trend slope per day — the rolling
    regression behind "is revenue accelerating this month" panels.
    Unlike ``timeseries_rolling_corr`` (whose statistic needs one IEEE
    sqrt), the OLS slope is a PURE RATIONAL of the rolling moments, so
    this query is float-free end to end: daily revenue quantizes to
    cents BIGINT, the four rolling moment sums are exact integers, and
    the slope is one e6 integral quotient in HUGEINT/decimal(38,0)
    (the ×10⁶ numerator reaches ~10²¹; the quotient itself is a
    per-day cents drift that fits int64, so ``div`` is safe — the
    div-wrap bound is checked in the docstring, not assumed).
    Zero-variance windows (a single active day) emit NULL via the same
    integer predicate. The x anchor (1992-01-01, before the order
    history) only shifts the intercept, never the slope.

    Scale shape: one map-side-combined aggregate to the per-day frame;
    the RANGE window runs over ≤|calendar days| post-agg rows —
    calendar-bounded (window_audit BOUNDED_OK), missing days shrink
    the window honestly."""
    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
        .cast("long")
        .alias("x")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("y")
    )
    win = Window.orderBy("x").rangeBetween(-27, 0)
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    w = daily.select(
        "x",
        F.count(F.lit(1)).over(win).cast("long").alias("n_days"),
        F.sum(dec("x")).over(win).alias("sx"),
        F.sum(dec("y")).over(win).alias("sy"),
        F.sum(dec("x") * dec("x")).over(win).alias("sxx"),
        F.sum(dec("x") * dec("y")).over(win).alias("sxy"),
    )
    den = F.expr("n_days * sxx - sx * sx")
    return w.select(
        F.col("x").cast("long").alias("day_idx"),
        "n_days",
        F.when(
            den > 0,
            F.expr(
                "CAST((n_days * sxy - sx * sy) * 1000000"
                " div (n_days * sxx - sx * sx) AS BIGINT)"
            ),
        ).alias("slope_cents_e6"),
    )


@register(
    "events_dau_wau_stickiness",
    """
    WITH ud AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '1970-01-01', ts::DATE) AS di
      FROM events
    ),
    dau AS (
      SELECT di, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY di
    ),
    contrib AS (
      SELECT user_id, di + o.o AS target_di
      FROM ud, unnest(range(0, 7)) o(o)
    ),
    wau AS (
      SELECT target_di AS di,
             CAST(count(DISTINCT user_id) AS BIGINT) AS wau
      FROM contrib GROUP BY target_di
    )
    SELECT dau.di AS day_idx, dau.dau, wau.wau,
           (dau.dau * 1000000) // wau.wau AS stickiness_e6
    FROM dau JOIN wau USING (di)
    """,
)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per day — the canonical engagement ratio
    (what share of the week's actives showed up today), EXACT windowed
    distinct counts rather than the HLL estimate
    (``stream_windowed_distinct_users`` is the sketch twin). The
    trailing-7-day distinct-user count cannot ride a window function
    (COUNT(DISTINCT) OVER a frame isn't available distributed), so the
    query uses the TEMPORAL CONTRIBUTION EXPLODE: each (user, day)
    activity contributes itself to the 7 target days it keeps the user
    "weekly active" for, and WAU(d) is a plain count-distinct per
    target day — linear ×7 work, no quadratic self-join, no window.
    Days trailing the span's end are emitted only for days that have a
    DAU row (inner join), so phantom post-calendar targets drop out.

    Exactness: integer counts, one integral-quotient ratio
    (``div``/``//`` truncation).

    Scale shape: one (user, day) distinct shuffle; the ×7 explode
    multiplies rows BEFORE the count-distinct aggregate whose map-side
    partials collapse per (day, user) — bounded by 7·|user-days|; at
    100 TB this is the standard sliding-window-distinct trick that
    avoids holding 7 days of state per key."""
    e = read_table(spark, sf_dir, "events")
    ud = e.select(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("di"),
    ).distinct()
    dau = ud.groupBy("di").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("di"), F.col("di") + 6)
        ).alias("target_di"),
    )
    wau = contrib.groupBy(F.col("target_di").alias("di")).agg(
        F.count_distinct("user_id").cast("long").alias("wau")
    )
    return (
        dau.join(wau, "di")
        .select(
            F.col("di").alias("day_idx"),
            "dau",
            "wau",
            F.expr("(dau * 1000000) div wau").alias("stickiness_e6"),
        )
    )


@register(
    "diag_simpsons_paradox",
    """
    WITH base AS (
      SELECT l_returnflag AS stratum,
             CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS x,
             CAST(l_quantity AS BIGINT) AS y
      FROM lineitem
    ),
    g AS (
      SELECT stratum,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(x * y) AS HUGEINT) AS sxy
      FROM base GROUP BY stratum
    ),
    strat AS (
      SELECT stratum,
             CASE WHEN n * sxy - sx * sy > 0 THEN 1
                  WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 0 END AS sign
      FROM g
    ),
    agg AS (
      SELECT CASE WHEN sum(n) * sum(sxy) - sum(sx) * sum(sy) > 0 THEN 1
                  WHEN sum(n) * sum(sxy) - sum(sx) * sum(sy) < 0 THEN -1
                  ELSE 0 END AS agg_sign
      FROM g
    )
    SELECT agg.agg_sign,
           CAST(sum(CASE WHEN strat.sign > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_strata_pos,
           CAST(sum(CASE WHEN strat.sign < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_strata_neg,
           CAST(sum(CASE WHEN strat.sign <> 0
                          AND strat.sign <> agg.agg_sign
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_strata_reversed
    FROM strat, agg
    GROUP BY agg.agg_sign
    """,
)
def diag_simpsons_paradox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox screen: does the SIGN of the discount–quantity
    association flip between the pooled data and the within-stratum
    view (strata = return flag)? The aggregation-bias diagnostic run
    before trusting any pooled correlation — a nonzero
    ``n_strata_reversed`` with a confident aggregate sign is the
    classic confounding alarm.

    Float-free: association signs come from the OLS-slope NUMERATOR
    n·Σxy − Σx·Σy (its sign equals the correlation's sign; the
    positive denominator is irrelevant), computed in HUGEINT/
    decimal(38,0) over exact integer (discount-percent, quantity)
    pairs — sign extraction needs no division at all. The pooled sign
    reuses the same per-stratum moment sums (one scan; the pooled
    moments are the stratum sums).

    Scale shape: one map-side-combined aggregate to |strata| rows;
    the sign fold and the cross join against the 1-row pooled sign are
    dimension-sized. The moment-sums-compose-exactly property is what
    makes this single-pass — a float slope per stratum would not
    compose into the pooled slope."""
    li = read_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_returnflag").alias("stratum"),
        F.floor(F.col("l_discount") * 100 + F.lit(0.5))
        .cast("long")
        .alias("x"),
        F.col("l_quantity").cast("long").alias("y"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    g = base.groupBy("stratum").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("x") * dec("y")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    strat = g.select(
        "stratum",
        F.when(num > 0, F.lit(1))
        .when(num < 0, F.lit(-1))
        .otherwise(F.lit(0))
        .alias("sign"),
    )
    anum = F.expr(
        "sum(n) * sum(sxy) - sum(sx) * sum(sy)"
    )
    agg = g.agg(
        F.when(anum > 0, F.lit(1))
        .when(anum < 0, F.lit(-1))
        .otherwise(F.lit(0))
        .alias("agg_sign")
    )
    return (
        strat.crossJoin(F.broadcast(agg))
        .groupBy("agg_sign")
        .agg(
            F.sum((F.col("sign") > 0).cast("long"))
            .cast("long")
            .alias("n_strata_pos"),
            F.sum((F.col("sign") < 0).cast("long"))
            .cast("long")
            .alias("n_strata_neg"),
            F.sum(
                (
                    (F.col("sign") != 0)
                    & (F.col("sign") != F.col("agg_sign"))
                ).cast("long")
            )
            .cast("long")
            .alias("n_strata_reversed"),
        )
    )


@register(
    "events_burst_detection",
    """
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', ts::DATE) AS di,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    w AS (
      SELECT di, x,
             CAST(count(*) OVER win AS BIGINT) AS n,
             CAST(sum(x) OVER win AS BIGINT) AS s,
             CAST(sum(x * x) OVER win AS BIGINT) AS q
      FROM daily
      WINDOW win AS (ORDER BY di
                     RANGE BETWEEN 14 PRECEDING AND 1 PRECEDING)
    )
    SELECT CAST(di AS BIGINT) AS day_idx, x AS n_events, n AS n_baseline,
           CASE WHEN n >= 7
                 AND (n * x - s) > 0
                 AND (n * x - s) * (n * x - s) * (n - 1)
                     > 4 * n * (n * q - s * s)
                THEN 1 ELSE 0 END AS burst_flag
    FROM w
    """,
)
def events_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily volume burst detector: flag days whose event count exceeds
    the trailing-14-day baseline by more than two standard deviations —
    the ops-alerting z-score screen, EXCLUSIVE of the current day (the
    candidate must not contaminate its own baseline; the frame is
    14 PRECEDING..1 PRECEDING) and gated on ≥7 baseline days so early
    days can't alarm on a 2-point variance.

    Fully integer: z > 2 clears to
    (n·x − S)² · (n−1) > 4·n·(n·Q − S²) with a positivity guard on
    (n·x − S) (a 2σ DROP is not a burst) — exact BIGINT comparisons,
    no σ, no sqrt, no floats. Same cleared-denominator family as the
    CUSUM and rolling-regression rows, but as a pure PREDICATE (sign
    test), the cheapest possible form.

    Scale shape: one per-day count aggregate, one calendar-bounded
    RANGE window (window_audit BOUNDED_OK). Flag exercised by the
    corpus at sf0.001 (1 burst day) and sf0.1 (2); sf0.01's quiet
    calendar is itself gate evidence that the guard holds."""
    e = read_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("di")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    win = Window.orderBy("di").rangeBetween(-14, -1)
    w = daily.select(
        "di",
        "x",
        F.count(F.lit(1)).over(win).cast("long").alias("n"),
        F.sum("x").over(win).cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).over(win).cast("long").alias("q"),
    )
    dev = F.col("n") * F.col("x") - F.col("s")
    var_term = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    return w.select(
        F.col("di").alias("day_idx"),
        F.col("x").alias("n_events"),
        F.col("n").alias("n_baseline"),
        F.when(
            (F.col("n") >= 7)
            & (dev > 0)
            & (dev * dev * (F.col("n") - 1) > 4 * F.col("n") * var_term),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("burst_flag"),
    )


@register(
    "agg_histogram_equiwidth",
    """
    WITH b AS (
      SELECT least(CAST(floor(o_totalprice / 30000) AS BIGINT), 19) AS bin,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    )
    SELECT bin,
           CAST(bin * 30000 AS BIGINT) AS bin_lo,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(min(cents) AS BIGINT) AS min_cents,
           CAST(max(cents) AS BIGINT) AS max_cents,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM b GROUP BY bin
    """,
)
def agg_histogram_equiwidth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-WIDTH histogram of order value (fixed $30k bins, top bin
    open) — the complement of ``feature_quantile_bins``' equi-DEPTH
    deciles: fixed boundaries make histograms MERGEABLE across
    partitions/days (the property dashboards and drift monitors need;
    equi-depth edges shift with the data). Per-bin count/min/max/sum in
    exact cents.

    Scale shape: one map-side-combined aggregate to ≤20 rows — the
    cheapest distributive statistic there is; bin ids are integer
    division so the oracle is trivially engine-identical."""
    o = read_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    b = o.select(
        F.least(
            F.floor(F.col("o_totalprice") / 30000).cast("long"), F.lit(19)
        ).alias("bin"),
        cents.alias("cents"),
    )
    return b.groupBy("bin").agg(
        (F.col("bin") * 30000).cast("long").alias("bin_lo"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.min("cents").cast("long").alias("min_cents"),
        F.max("cents").cast("long").alias("max_cents"),
        F.sum("cents").cast("long").alias("sum_cents"),
    ).select("bin", "bin_lo", "n_orders", "min_cents", "max_cents", "sum_cents")


@register(
    "join_spatial_grid_neighbors",
    """
    WITH p AS (
      SELECT c_custkey AS id,
             CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8)
                  AS BIGINT) % 1000 AS x,
             CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 9, 8)
                  AS BIGINT) % 1000 AS y
      FROM customer
    ),
    a AS (SELECT id, x, y, x // 8 AS cx, y // 8 AS cy FROM p),
    b AS (
      SELECT p.id, p.x, p.y,
             p.x // 8 + d.dx AS cx, p.y // 8 + d.dy AS cy
      FROM p, (VALUES (-1), (0), (1)) dxs(dx), (VALUES (-1), (0), (1)) dys(dy),
           LATERAL (SELECT dxs.dx AS dx, dys.dy AS dy) d
    )
    SELECT a.id AS id_a, b.id AS id_b,
           greatest(abs(a.x - b.x), abs(a.y - b.y)) AS cheb_dist
    FROM a JOIN b ON a.cx = b.cx AND a.cy = b.cy AND a.id < b.id
    WHERE greatest(abs(a.x - b.x), abs(a.y - b.y)) <= 8
    """,
)
def join_spatial_grid_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-blocked spatial neighbors join — all point pairs within
    Chebyshev distance 8 on a 1000×1000 plane, the geospatial
    (geohash-style) shape: the naive form is a distance-predicate theta
    join (a broadcast nested loop at any scale); the grid rewrite snaps
    each point to a cell of width = the distance bound, explodes ONE
    side into its 3×3 neighbor cells, equi-joins on the cell id, and
    applies the exact distance filter to the candidates. Each
    qualifying pair is emitted EXACTLY once (the probe side covers the
    build side's cell at most once per pair), so no dedup pass.
    Coordinates derive from two independent md5 slices of the key (a
    single Knuth hash with an offset was probed first and REJECTED: the
    two coordinates were affinely dependent mod 1000 — every point on
    one lattice line, 1.9M pairs at sf0.1 vs 32k under independent
    bits; a degenerate synthetic plane measures the wrong thing).

    Exactness: coordinates, cells, and distances are exact integers
    end-to-end; the portable md5-slice hash is the repo's established
    cross-engine idiom (``split_leakage_safe``).

    Scale shape: candidate volume is Σ per-cell n_a·n_b over 9 cells —
    density-bounded, the spatial analogue of the LSH bucket join; one
    equi-join shuffle on cell ids, the 9× explode happens before the
    exchange's partial aggregation of nothing (it's a join, so 9× probe
    rows shuffle — the standard cost of grid blocking). A hot cell is
    the skew risk, same cap-and-log doctrine as every blocking join in
    this repo."""
    c = read_table(spark, sf_dir, "customer")
    h = F.md5(F.col("c_custkey").cast("string"))
    p = c.select(
        F.col("c_custkey").alias("id"),
        (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 1000).alias("x"),
        (F.conv(F.substring(h, 9, 8), 16, 10).cast("long") % 1000).alias("y"),
    )
    a = p.select(
        F.col("id").alias("id_a"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        (F.col("x") / 8).cast("long").alias("cx"),
        (F.col("y") / 8).cast("long").alias("cy"),
    )
    offs = F.explode(
        F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                  for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    )
    b = p.select("id", "x", "y", offs.alias("o")).select(
        F.col("id").alias("id_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        ((F.col("x") / 8).cast("long") + F.col("o.dx")).alias("cx"),
        ((F.col("y") / 8).cast("long") + F.col("o.dy")).alias("cy"),
    )
    cheb = F.greatest(
        F.abs(F.col("xa") - F.col("xb")), F.abs(F.col("ya") - F.col("yb"))
    )
    return (
        a.join(b, ["cx", "cy"])
        .filter((F.col("id_a") < F.col("id_b")) & (cheb <= 8))
        .select("id_a", "id_b", cheb.cast("long").alias("cheb_dist"))
    )


@register(
    "topk_suppliers_wilson",
    """
    WITH s AS (
      SELECT l_suppkey,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS r
      FROM lineitem GROUP BY 1
    ),
    w AS (
      SELECT l_suppkey, n, r,
             CAST(floor(
               ( r / n + 3.8416 / (2 * n)
                 - 1.96 * sqrt( (r / n) * (1 - r / n) / n
                                + 3.8416 / (4 * n * n) ) )
               / (1 + 3.8416 / n) * 1000000 + 0.5) AS BIGINT)
               AS wilson_lb_e6
      FROM s
    )
    SELECT l_suppkey, n, r, wilson_lb_e6,
           CAST(row_number() OVER (ORDER BY wilson_lb_e6 DESC, l_suppkey)
                AS BIGINT) AS rank
    FROM w ORDER BY wilson_lb_e6 DESC, l_suppkey LIMIT 20
    """,
)
def topk_suppliers_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking under uncertainty: top-20 suppliers by the Wilson-score
    LOWER bound (z = 1.96) of their return rate — the small-sample-safe
    sort behind every "best rated" list (a 2/2 supplier must not outrank
    a 195/600 one; the raw rate does exactly that). The bound is ONE
    fixed-shape IEEE expression over the exact integer pair (r, n) —
    identical text on both engines, so the e6-quantized value is
    engine-identical (the correlation-doctrine argument: no float ever
    crosses an aggregation boundary; floats exist only per-row between
    exact inputs and the quantizer).

    Scale shape: one map-side-combined aggregate to the supplier
    dimension, per-row scoring, TakeOrdered top-20 — no global sort, no
    window over unbounded input."""
    from datamodel_clinicaldata_spark.operators.ranking import topk_ranked

    li = read_table(spark, sf_dir, "lineitem")
    s = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("l_returnflag") == "R").cast("long"))
        .cast("long")
        .alias("r"),
    )
    w = s.withColumn(
        "wilson_lb_e6",
        F.expr(
            "CAST(floor("
            "( r / n + 3.8416 / (2 * n)"
            "  - 1.96 * sqrt( (r / n) * (1 - r / n) / n"
            "                 + 3.8416 / (4 * n * n) ) )"
            " / (1 + 3.8416 / n) * 1000000 + 0.5) AS BIGINT)"
        ),
    )
    return topk_ranked(
        w, [F.col("wilson_lb_e6").desc(), F.col("l_suppkey").asc()], k=20
    ).select("l_suppkey", "n", "r", "wilson_lb_e6", "rank")


@register(
    "diag_ks_two_sample",
    """
    WITH g AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
             CAST((CAST(o_orderkey AS HUGEINT) * 2654435761) % 2 AS BIGINT)
               AS grp
      FROM orders
    ),
    pts AS (
      SELECT v,
             CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
             CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
      FROM g GROUP BY v
    ),
    c AS (
      SELECT v,
             CAST(sum(c0) OVER w AS BIGINT) AS cum0,
             CAST(sum(c1) OVER w AS BIGINT) AS cum1
      FROM pts WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)
    ),
    t AS (SELECT max(cum0) AS n0, max(cum1) AS n1 FROM c)
    SELECT CAST(t.n0 AS BIGINT) AS n0, CAST(t.n1 AS BIGINT) AS n1,
           CAST(max(abs(CAST(c.cum0 AS HUGEINT) * t.n1
                        - CAST(c.cum1 AS HUGEINT) * t.n0)) * 1000000
                // (CAST(t.n0 AS HUGEINT) * t.n1) AS BIGINT) AS ks_e6
    FROM c, t
    GROUP BY t.n0, t.n1
    """,
)
def diag_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance between the order-value
    distributions of two deterministic halves (Knuth-hash split of
    o_orderkey) — the non-parametric same-distribution test behind
    train/test-split audits and drift monitors. D = max|F₀(v) − F₁(v)|
    clears the denominators to max|cum₀·n₁ − cum₁·n₀| over the sorted
    value domain: EXACT integers end-to-end (the supremum over empirical
    CDF steps needs no float, no binning, no approximation), one e6
    integral quotient at the end.

    Scale shape: values collapse to the distinct cents domain with both
    groups' counts in one conditional aggregate; the two running counts
    ride ONE ``ordered_prefix`` range-shuffle pass (never an
    unpartitioned window over the domain frame); totals and the max
    fold read the checkpointed prefix frame — no second orders scan.
    The cross-multiplied supremum runs in decimal(38,0)/HUGEINT (cum·n
    products pass int64 at corpus scale)."""
    from datamodel_clinicaldata_spark.functions.sampling import knuth_mod
    from datamodel_clinicaldata_spark.operators.ranking import ordered_prefix

    o = read_table(spark, sf_dir, "orders")
    g = o.select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("v"),
        knuth_mod(F.col("o_orderkey"), 2).cast("long").alias("grp"),
    )
    pts = g.groupBy("v").agg(
        F.sum((F.col("grp") == 0).cast("long")).cast("long").alias("c0"),
        F.sum((F.col("grp") == 1).cast("long")).cast("long").alias("c1"),
    )
    # r13: counted-small path — A/B at sf0.1: 1.87 → 1.40 s.
    c = ordered_prefix(
        pts,
        [F.col("v").asc()],
        running_sum={"c0": "cum0", "c1": "cum1"},
        count_small=2_000_000,
    ).select(
        F.col("cum0").cast("long").alias("cum0"),
        F.col("cum1").cast("long").alias("cum1"),
    )
    t = c.agg(
        F.max("cum0").cast("long").alias("n0"),
        F.max("cum1").cast("long").alias("n1"),
    )
    j = c.crossJoin(F.broadcast(t))
    num = F.abs(
        F.col("cum0").cast("decimal(38,0)") * F.col("n1")
        - F.col("cum1").cast("decimal(38,0)") * F.col("n0")
    )
    return (
        j.groupBy("n0", "n1")
        .agg(F.max(num).alias("__ks_num"))
        .select(
            "n0",
            "n1",
            F.expr(
                "CAST(__ks_num * 1000000"
                " div (CAST(n0 AS DECIMAL(38,0)) * n1) AS BIGINT)"
            ).alias("ks_e6"),
        )
    )


@register(
    "eval_rank_correlation_spearman",
    """
    WITH s AS (
      SELECT l_suppkey,
             CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS rev,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS ret
      FROM lineitem GROUP BY 1
    ),
    r AS (
      SELECT l_suppkey,
             CAST(row_number() OVER (ORDER BY rev DESC, l_suppkey)
                  AS BIGINT) AS rank_rev,
             CAST(row_number() OVER (ORDER BY ret DESC, l_suppkey)
                  AS BIGINT) AS rank_ret
      FROM s
    )
    SELECT CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum((rank_rev - rank_ret) * (rank_rev - rank_ret))
                AS BIGINT) AS sum_d2,
           CAST(1000000 - CAST(6000000 * CAST(sum((rank_rev - rank_ret)
                        * (rank_rev - rank_ret)) AS HUGEINT)
                // (CAST(count(*) AS HUGEINT)
                    * (count(*) * count(*) - 1)) AS BIGINT) AS BIGINT)
             AS spearman_e6
    FROM r
    """,
)
def eval_rank_correlation_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between two supplier orderings (by
    revenue vs by return count) — the metric-agreement check run when
    replacing a ranking signal (do the orderings agree before we swap
    the cheaper one in?). With tie-broken total orders (id tie-break
    doctrine), ρ = 1 − 6Σd²/(n(n²−1)) is EXACT integer arithmetic end
    to end: ranks, rank differences, Σd², and the final e6 integral
    quotient in HUGEINT/decimal (6·10⁶·Σd² passes int64 once n grows;
    the quotient is ≤ 2·10⁶ so div is wrap-safe).

    Scale shape: one aggregate to the supplier dimension, two rank
    passes via ``ordered_prefix`` over that dimension frame (never an
    unpartitioned window over unbounded input), a 1-row fold."""
    from datamodel_clinicaldata_spark.operators.ranking import ordered_prefix

    li = read_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    s = li.groupBy("l_suppkey").agg(
        F.sum(cents).cast("long").alias("rev"),
        F.sum((F.col("l_returnflag") == "R").cast("long"))
        .cast("long")
        .alias("ret"),
    )
    # r13: counted-small path on both ranks — A/B at sf0.1: 0.90 → 0.58 s.
    r1 = ordered_prefix(
        s,
        [F.col("rev").desc(), F.col("l_suppkey").asc()],
        rank_col="rank_rev",
        count_small=2_000_000,
    )
    r2 = ordered_prefix(
        r1,
        [F.col("ret").desc(), F.col("l_suppkey").asc()],
        rank_col="rank_ret",
        count_small=2_000_000,
    )
    d2 = (F.col("rank_rev") - F.col("rank_ret")) * (
        F.col("rank_rev") - F.col("rank_ret")
    )
    return r2.agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum(d2).cast("long").alias("sum_d2"),
    ).select(
        "n_suppliers",
        "sum_d2",
        F.expr(
            "CAST(1000000 - CAST(CAST(6000000 AS DECIMAL(38,0)) * sum_d2"
            " div (CAST(n_suppliers AS DECIMAL(38,0))"
            "      * (n_suppliers * n_suppliers - 1)) AS BIGINT) AS BIGINT)"
        ).alias("spearman_e6"),
    )


@register(
    "timeseries_rolling_median",
    """
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', ts::DATE) AS di,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    w AS (
      SELECT di, x,
             list_sort(list(x) OVER (ORDER BY di
                       RANGE BETWEEN 14 PRECEDING AND CURRENT ROW)) AS vals
      FROM daily
    )
    SELECT CAST(di AS BIGINT) AS day_idx, x AS n_events,
           CAST(length(vals) AS BIGINT) AS n_window,
           CAST(vals[(length(vals) + 1) // 2] AS BIGINT) AS median_events
    FROM w
    """,
)
def timeseries_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 15-day rolling EXACT median of daily event volume — the
    robust smoother that a rolling mean is not (one burst day drags a
    mean for two weeks; the median shrugs). Even-sized windows take the
    LOWER median (the repo's exact-median doctrine, same as
    ``feature_robust_scale``), so the statistic is always an observed
    integer value — no float interpolation, nothing to quantize.

    Mechanism: ``collect_list`` over the RANGE frame, sorted in-plan,
    middle element by index — legitimate ONLY because the frame is
    calendar-bounded (≤15 values per row; the collect_list-in-window
    skew hazard documented in SCALING.md applies to unbounded per-key
    frames, not to a constant-width one). The window itself runs over
    the ≤|calendar days| post-agg frame (window_audit BOUNDED_OK)."""
    e = read_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("di")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    win = Window.orderBy("di").rangeBetween(-14, 0)
    w = daily.select(
        "di",
        "x",
        F.array_sort(F.collect_list("x").over(win)).alias("vals"),
    )
    n = F.size("vals")
    return w.select(
        F.col("di").alias("day_idx"),
        F.col("x").alias("n_events"),
        n.cast("long").alias("n_window"),
        F.element_at("vals", ((n + 1) / 2).cast("int"))
        .cast("long")
        .alias("median_events"),
    )


@register(
    "events_markov_3step",
    """
    WITH seq AS (
      SELECT user_id, event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    e AS (
      SELECT cur, nxt, CAST(count(*) AS BIGINT) AS c
      FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
    ),
    p AS (
      SELECT cur, nxt,
             CAST(CAST(c AS HUGEINT) * 1000000000000
                  // sum(c) OVER (PARTITION BY cur) AS BIGINT) AS p_e12
      FROM e
    ),
    f AS (
      SELECT event_type AS state, CAST(count(*) AS BIGINT) AS c
      FROM (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
      ) WHERE rn = 1 GROUP BY 1
    ),
    s0 AS (
      SELECT state,
             CAST(CAST(c AS HUGEINT) * 1000000000000
                  // sum(c) OVER () AS BIGINT) AS s_e12
      FROM f
    ),
    s1 AS (
      SELECT p.nxt AS state,
             CAST(sum(CAST(s0.s_e12 AS HUGEINT) * p.p_e12)
                  // 1000000000000 AS BIGINT) AS s_e12
      FROM s0 JOIN p ON p.cur = s0.state GROUP BY p.nxt
    ),
    s2 AS (
      SELECT p.nxt AS state,
             CAST(sum(CAST(s1.s_e12 AS HUGEINT) * p.p_e12)
                  // 1000000000000 AS BIGINT) AS s_e12
      FROM s1 JOIN p ON p.cur = s1.state GROUP BY p.nxt
    ),
    s3 AS (
      SELECT p.nxt AS state,
             CAST(sum(CAST(s2.s_e12 AS HUGEINT) * p.p_e12)
                  // 1000000000000 AS BIGINT) AS s_e12
      FROM s2 JOIN p ON p.cur = s2.state GROUP BY p.nxt
    )
    SELECT coalesce(s0.state, s3.state) AS state,
           coalesce(s0.s_e12, 0) AS start_e12,
           coalesce(s3.s_e12, 0) AS step3_e12
    FROM s0 FULL OUTER JOIN s3 ON s3.state = s0.state
    """,
)
def events_markov_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-step Markov projection: starting from the EMPIRICAL
    first-event distribution, where is a user likely to be three
    transitions later? The chain-forecast query behind journey
    planning, extending ``events_markov_transitions`` (the one-step
    matrix) with iterated matrix–vector products. Fixed-point doctrine
    throughout (the PageRank playbook): transition probabilities and
    state masses are e12 BIGINTs, each step's Σ s·p products run in
    HUGEINT/decimal(38,0) and re-quantize by ONE truncating integral
    division — no float ever crosses a step boundary, so iteration
    order cannot move the result and both engines agree bit-for-bit.

    Scale shape: the corpus-size work is one lead() pass (user-
    partitioned) + the first-event rank; everything after lives on the
    ≤|states|² edge frame — three dimension-sized joins. The two
    global windows (row-normalize per cur, start-distribution total)
    run over ≤|states|²/≤|states| rows (window_audit BOUNDED_OK)."""
    e = read_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(wu).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    edges = seq.groupBy("cur", "nxt").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    p = edges.select(
        "cur",
        "nxt",
        F.expr(
            "CAST(CAST(c AS DECIMAL(38,0)) * 1000000000000"
            " div (sum(c) OVER (PARTITION BY cur)) AS BIGINT)"
        ).alias("p_e12"),
    )
    f = (
        e.select("user_id", "event_type", F.row_number().over(wu).alias("rn"))
        .filter(F.col("rn") == 1)
        .groupBy(F.col("event_type").alias("state"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    s = f.select(
        "state",
        F.expr(
            "CAST(CAST(c AS DECIMAL(38,0)) * 1000000000000"
            " div (sum(c) OVER ()) AS BIGINT)"
        ).alias("s_e12"),
    )
    s0 = s
    for _ in range(3):
        s = (
            s.join(p, p["cur"] == s["state"])
            .groupBy(F.col("nxt").alias("__state"))
            .agg(
                F.expr(
                    "CAST(sum(CAST(s_e12 AS DECIMAL(38,0)) * p_e12)"
                    " div 1000000000000 AS BIGINT)"
                ).alias("s_e12")
            )
            .select(F.col("__state").alias("state"), "s_e12")
        )
    return (
        s0.select(F.col("state").alias("st0"), F.col("s_e12").alias("start_e12"))
        .join(
            s.select(F.col("state").alias("st3"), F.col("s_e12").alias("step3_e12")),
            F.col("st3") == F.col("st0"),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("st0"), F.col("st3")).alias("state"),
            F.coalesce(F.col("start_e12"), F.lit(0)).cast("long").alias("start_e12"),
            F.coalesce(F.col("step3_e12"), F.lit(0)).cast("long").alias("step3_e12"),
        )
    )


@register(
    "diag_mannwhitney_u",
    """
    WITH g AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
             CAST((CAST(o_orderkey AS HUGEINT) * 2654435761) % 2 AS BIGINT)
               AS grp
      FROM orders
    ),
    pts AS (
      SELECT v,
             CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
             CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
      FROM g GROUP BY v
    ),
    c AS (
      SELECT v, c0, c1,
             CAST(sum(c0) OVER w AS BIGINT) AS cum0,
             CAST(sum(c1) OVER w AS BIGINT) AS cum1
      FROM pts WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)
    ),
    t AS (
      SELECT CAST(max(cum0) AS BIGINT) AS n0,
             CAST(max(cum1) AS BIGINT) AS n1,
             sum(CAST(c0 AS HUGEINT)
                 * (2 * (cum0 - c0 + cum1 - c1) + (c0 + c1) + 1)) AS r0x2
      FROM c
    )
    SELECT n0, n1,
           CAST(r0x2 AS BIGINT) AS r0_x2,
           CAST(r0x2 - CAST(n0 AS HUGEINT) * (n0 + 1) AS BIGINT) AS u0_x2,
           CAST((r0x2 - CAST(n0 AS HUGEINT) * (n0 + 1)) * 1000000
                // (2 * CAST(n0 AS HUGEINT) * n1) AS BIGINT) AS auc_e6
    FROM t
    """,
)
def diag_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U between the order-value distributions of two
    deterministic halves (same Knuth-hash split as ``diag_ks_two_sample``)
    — the rank-sum stochastic-dominance test drift monitors reach for
    when means are skew-fragile. Ties get textbook midranks, kept EXACT
    by carrying 2×rank everywhere: for a distinct value v with c₀+c₁
    occurrences after ``cum_before`` smaller points, every occurrence's
    doubled midrank is ``2·cum_before + (c₀+c₁) + 1`` — an odd integer,
    never a float. 2R₀ folds in one conditional aggregate; 2U₀ = 2R₀ −
    n₀(n₀+1); the common-language effect size AUC = U₀/(n₀n₁) is one e6
    integral quotient. Output magnitudes are O(n²) like the Spearman
    row's Σd² — BIGINT-safe to n ≈ 2·10⁹ per group, DECIMAL(38,0)
    internally throughout.

    Scale shape: values collapse to the distinct cents domain with both
    group counts in one aggregate; the two running counts ride ONE
    ``ordered_prefix`` range-shuffle (the same pass the KS row pays);
    the 2R₀ fold reads the checkpointed prefix frame — no second orders
    scan, no unpartitioned window anywhere."""
    from datamodel_clinicaldata_spark.functions.sampling import knuth_mod
    from datamodel_clinicaldata_spark.operators.ranking import ordered_prefix

    o = read_table(spark, sf_dir, "orders")
    g = o.select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("v"),
        knuth_mod(F.col("o_orderkey"), 2).cast("long").alias("grp"),
    )
    pts = g.groupBy("v").agg(
        F.sum((F.col("grp") == 0).cast("long")).cast("long").alias("c0"),
        F.sum((F.col("grp") == 1).cast("long")).cast("long").alias("c1"),
    )
    # r13: counted-small path — A/B at sf0.1: 1.44 → 1.11 s.
    c = ordered_prefix(
        pts,
        [F.col("v").asc()],
        running_sum={"c0": "cum0", "c1": "cum1"},
        count_small=2_000_000,
    )
    t = c.agg(
        F.max(F.col("cum0").cast("long")).alias("n0"),
        F.max(F.col("cum1").cast("long")).alias("n1"),
        F.sum(
            F.col("c0").cast("decimal(38,0)")
            * (
                2 * (F.col("cum0") - F.col("c0") + F.col("cum1") - F.col("c1"))
                + (F.col("c0") + F.col("c1"))
                + 1
            ).cast("decimal(38,0)")
        ).alias("__r0x2"),
    )
    return t.select(
        "n0",
        "n1",
        F.col("__r0x2").cast("long").alias("r0_x2"),
        F.expr(
            "CAST(__r0x2 - CAST(n0 AS DECIMAL(38,0)) * (n0 + 1) AS BIGINT)"
        ).alias("u0_x2"),
        F.expr(
            "CAST((__r0x2 - CAST(n0 AS DECIMAL(38,0)) * (n0 + 1)) * 1000000"
            " div (CAST(2 AS DECIMAL(38,0)) * n0 * n1) AS BIGINT)"
        ).alias("auc_e6"),
    )


@register(
    "agg_modal_segment_per_nation",
    """
    WITH s AS (
      SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n_seg
      FROM customer GROUP BY 1, 2
    ),
    r AS (
      SELECT c_nationkey, c_mktsegment, n_seg,
             CAST(sum(n_seg) OVER (PARTITION BY c_nationkey) AS BIGINT)
               AS n_all,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY n_seg DESC, c_mktsegment) AS rn
      FROM s
    )
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
           c_mktsegment AS modal_segment, n_seg, n_all
    FROM r WHERE rn = 1
    """,
)
def agg_modal_segment_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group MODE with a deterministic tie-break: each nation's
    most common market segment (ties broken lexicographically — the id
    tie-break doctrine applied to a categorical). Spark has no exact
    ``mode()`` aggregate that pins tie order, so the engine states it as
    count-then-rank: groupBy (nation, segment) → per-nation rank window
    → keep rank 1, with the nation total riding the SAME partition
    window (one exchange serves both).

    Scale shape: the only full-data shuffle is the (nation, segment)
    count — partial aggregation makes it |nations|×|segments| rows of
    map-side-combined counts; the rank window is PARTITIONED by nation
    over that dimension-sized frame. Mode-of-millions-of-groups works
    identically: the window never sees more rows per task than one
    group's distinct values."""
    cu = read_table(spark, sf_dir, "customer")
    s = cu.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_seg")
    )
    wp = Window.partitionBy("c_nationkey")
    wr = Window.partitionBy("c_nationkey").orderBy(
        F.col("n_seg").desc(), F.col("c_mktsegment").asc()
    )
    r = s.select(
        F.col("c_nationkey").cast("long").alias("nationkey"),
        F.col("c_mktsegment").alias("modal_segment"),
        "n_seg",
        F.sum("n_seg").over(wp).cast("long").alias("n_all"),
        F.row_number().over(wr).alias("rn"),
    )
    return r.filter(F.col("rn") == 1).drop("rn")


@register(
    "timeseries_anomaly_mad",
    """
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', ts::DATE) AS di,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    rk AS (
      SELECT di, x, row_number() OVER (ORDER BY x, di) AS rn,
             count(*) OVER () AS n
      FROM daily
    ),
    m AS (
      SELECT max(CASE WHEN rn = (n + 1) // 2 THEN x END) AS med FROM rk
    ),
    d AS (
      SELECT di, x, med, abs(x - med) AS dev FROM daily, m
    ),
    rk2 AS (
      SELECT di, dev, row_number() OVER (ORDER BY dev, di) AS rn,
             count(*) OVER () AS n
      FROM d
    ),
    md AS (
      SELECT max(CASE WHEN rn = (n + 1) // 2 THEN dev END) AS mad FROM rk2
    )
    SELECT CAST(di AS BIGINT) AS day_idx, x AS n_events,
           CAST(med AS BIGINT) AS median_events,
           CAST(md.mad AS BIGINT) AS mad, CAST(dev AS BIGINT) AS dev
    FROM d, md WHERE dev > 3 * md.mad
    """,
)
def timeseries_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation anomaly screen over daily event volume:
    flag days whose count sits more than 3 MADs from the corpus median —
    the robust outlier detector (one anomalous day CANNOT drag the
    threshold the way it drags a mean/stddev z-score). Both the median
    and the MAD are EXACT lower-median order statistics of integers
    (the repo's exact-median doctrine), so the ``dev > 3·mad`` predicate
    is pure integer comparison — no quantile interpolation, nothing to
    round.

    Scale shape: events collapse to the per-day count in one map-side-
    combined shuffle; everything after runs on the CALENDAR-bounded
    daily frame (≤ tens of thousands of rows at ANY corpus size — a
    decade is ~3.7k days), so the two order-statistic windows are
    bounded by construction (window_audit BOUNDED_OK) and the med/mad
    1-row frames broadcast back. The shared ``daily`` subtree reuses one
    exchange across the median and deviation branches."""
    e = read_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias(
            "di"
        )
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))

    def _lower_median(df: DataFrame, val: str, out: str) -> DataFrame:
        w = Window.orderBy(F.col(val).asc(), F.col("di").asc())
        rk = df.select(
            val,
            "di",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).alias("n"),
        )
        return rk.filter(
            F.col("rn") == F.expr("(n + 1) div 2")
        ).select(F.col(val).cast("long").alias(out))

    med = daily.select("x", "di").transform(
        lambda df: _lower_median(df, "x", "med")
    )
    d = daily.crossJoin(F.broadcast(med)).select(
        "di", "x", "med", F.abs(F.col("x") - F.col("med")).alias("dev")
    )
    mad = d.select("dev", "di").transform(
        lambda df: _lower_median(df, "dev", "mad")
    )
    return (
        d.crossJoin(F.broadcast(mad))
        .filter(F.col("dev") > 3 * F.col("mad"))
        .select(
            F.col("di").cast("long").alias("day_idx"),
            F.col("x").alias("n_events"),
            F.col("med").alias("median_events"),
            F.col("mad").cast("long").alias("mad"),
            F.col("dev").cast("long").alias("dev"),
        )
    )


@register(
    "events_attribution_linear",
    """
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS psum
      FROM events
    ),
    touches AS (
      SELECT user_id, event_type, psum + 1 AS conv_id
      FROM seq WHERE event_type IN ('view', 'click')
    ),
    convs AS (
      SELECT DISTINCT user_id, psum AS conv_id
      FROM seq WHERE event_type = 'purchase'
    ),
    attributed AS (
      SELECT t.user_id, t.event_type, t.conv_id,
             CAST(count(*) OVER (PARTITION BY t.user_id, t.conv_id)
                  AS BIGINT) AS n_touch
      FROM touches t JOIN convs c
        ON c.user_id = t.user_id AND c.conv_id = t.conv_id
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_touchpoints,
           CAST(count(DISTINCT (user_id, conv_id)) AS BIGINT)
             AS n_conversions_touched,
           CAST(sum(1000000 // n_touch) AS BIGINT) AS credit_e6
    FROM attributed GROUP BY 1
    """,
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every view/click between two
    purchases of a user is a touchpoint of the NEXT purchase, and each
    converted purchase's unit of credit splits EQUALLY across its
    touchpoints — the marketing-analytics allocation that first/last-
    touch models throw away. Assignment is pure window arithmetic: a
    running purchase count per user (the same prefix-count device as
    the funnel rows) gives every event its conversion index; touches
    attach to conversion psum+1, purchases close conversion psum.
    Credit is integral — 10⁶ div n_touch per touchpoint — so the
    rollup is exact (truncation remainder stays visible rather than
    vanishing into float dust; a 3-touch conversion credits 999,999,
    deliberately).

    Scale shape: one user-partitioned window over events, a (user,
    conv)-keyed equi-join of touches to REALIZED conversions (an
    unconverted trailing session drops out — semi-join semantics), a
    per-conversion count window on the same partitioning, one final
    event_type rollup. Everything partitions by user; no global
    ordering anywhere."""
    e = read_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    seq = e.select(
        "user_id",
        "event_type",
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .over(wu)
        .cast("long")
        .alias("psum"),
    )
    # r13: the realized-conversion join is window arithmetic — purchase
    # indices are exactly {1..max(psum) per user} (each purchase row
    # increments the inclusive running count), so a touch's conversion
    # psum+1 is realized iff psum+1 ≤ max(psum) over the user. That
    # replaces the distinct + (user, conv) equi-join (two exchanges)
    # with one unordered window max riding the SAME user_id exchange;
    # the per-conversion count window's ClusteredDistribution(user,
    # conv) is likewise satisfied by HashPartitioning(user) — sort only,
    # no new shuffle. Row-for-row identical to the join form (guide
    # §2.4; oracle hash-match sf0.001/0.01).
    touches = (
        seq.withColumn("__tot", F.max("psum").over(Window.partitionBy("user_id")))
        .filter(
            F.col("event_type").isin("view", "click")
            & (F.col("psum") + 1 <= F.col("__tot"))
        )
        .select("user_id", "event_type", (F.col("psum") + 1).alias("conv_id"))
    )
    attributed = touches.select(
        "user_id",
        "event_type",
        "conv_id",
        F.count(F.lit(1))
        .over(Window.partitionBy("user_id", "conv_id"))
        .cast("long")
        .alias("n_touch"),
    )
    return attributed.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_touchpoints"),
        F.count_distinct(F.col("user_id"), F.col("conv_id"))
        .cast("long")
        .alias("n_conversions_touched"),
        F.sum(F.expr("1000000 div n_touch")).cast("long").alias("credit_e6"),
    )


@register(
    "pii_l_diversity",
    """
    WITH g AS (
      SELECT c_nationkey,
             CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band,
             CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l,
             CAST(count(*) AS BIGINT) AS n
      FROM customer GROUP BY 1, 2
    )
    SELECT CAST(t.l_min AS BIGINT) AS l_min,
           CAST(sum(CASE WHEN g.l < t.l_min THEN 1 ELSE 0 END) AS BIGINT)
             AS groups_below,
           CAST(sum(CASE WHEN g.l < t.l_min THEN g.n ELSE 0 END) AS BIGINT)
             AS rows_at_risk
    FROM g, (SELECT unnest([2, 3, 4]) AS l_min) t
    GROUP BY 1
    """,
)
def pii_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the governance check k-anonymity misses: a
    quasi-identifier group can be large (k-safe) yet reveal everyone's
    sensitive attribute if all members SHARE it. Here QI = (nation,
    balance band), sensitive = market segment; a group is l-diverse
    when its members span ≥ l distinct segments. Output is the risk
    profile across l ∈ {2, 3, 4}: how many QI groups (and underlying
    rows) fall below each bar — the profile form of the companion
    ``pii_k_anonymity`` row, which shares its plan shape.

    Scale shape: ONE aggregate builds the per-QI-group frame (the
    distinct-count runs inside the groupBy's partial aggregation);
    the 3-threshold profile folds over that dimension-sized frame via
    a broadcast 3-row literal cross-join. At 100 TB the group frame is
    |distinct QI tuples| — bounded by the identifier domain."""
    c = read_table(spark, sf_dir, "customer")
    g = c.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_band"),
    ).agg(
        F.count_distinct("c_mktsegment").cast("long").alias("l"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    ls = spark.range(1).select(
        F.explode(F.array(*[F.lit(x) for x in (2, 3, 4)])).alias("l_min")
    )
    return (
        g.crossJoin(F.broadcast(ls))
        .groupBy(F.col("l_min").cast("long").alias("l_min"))
        .agg(
            F.sum((F.col("l") < F.col("l_min")).cast("long"))
            .cast("long")
            .alias("groups_below"),
            F.sum(
                F.when(F.col("l") < F.col("l_min"), F.col("n")).otherwise(0)
            )
            .cast("long")
            .alias("rows_at_risk"),
        )
    )


@register(
    "graph_label_propagation",
    """
    WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e AS (
      SELECT a.p AS u, b.p AS v, CAST(count(*) AS BIGINT) AS w
      FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p GROUP BY 1, 2
    ),
    l0 AS (
      SELECT p_partkey AS pk, p_type,
             (p_size <= 10) AS seeded,
             CASE WHEN p_size <= 10 THEN p_type END AS lbl
      FROM part
    ),
    v1 AS (
      SELECT e.u AS pk, l0.lbl, CAST(sum(e.w) AS BIGINT) AS votes
      FROM e JOIN l0 ON l0.pk = e.v WHERE l0.lbl IS NOT NULL GROUP BY 1, 2
    ),
    c1 AS (
      SELECT pk, lbl FROM (
        SELECT pk, lbl, row_number() OVER (
          PARTITION BY pk ORDER BY votes DESC, lbl) AS rn FROM v1
      ) WHERE rn = 1
    ),
    l1 AS (
      SELECT l0.pk, l0.p_type, l0.seeded,
             CASE WHEN l0.seeded THEN l0.lbl
                  ELSE coalesce(c1.lbl, l0.lbl) END AS lbl
      FROM l0 LEFT JOIN c1 ON c1.pk = l0.pk
    ),
    v2 AS (
      SELECT e.u AS pk, l1.lbl, CAST(sum(e.w) AS BIGINT) AS votes
      FROM e JOIN l1 ON l1.pk = e.v WHERE l1.lbl IS NOT NULL GROUP BY 1, 2
    ),
    c2 AS (
      SELECT pk, lbl FROM (
        SELECT pk, lbl, row_number() OVER (
          PARTITION BY pk ORDER BY votes DESC, lbl) AS rn FROM v2
      ) WHERE rn = 1
    ),
    l2 AS (
      SELECT l1.pk, l1.p_type, l1.seeded,
             CASE WHEN l1.seeded THEN l1.lbl
                  ELSE coalesce(c2.lbl, l1.lbl) END AS lbl
      FROM l1 LEFT JOIN c2 ON c2.pk = l1.pk
    )
    SELECT p_type AS true_type,
           coalesce(lbl, 'none') AS propagated,
           seeded,
           CAST(count(*) AS BIGINT) AS n_parts
    FROM l2 GROUP BY 1, 2, 3
    """,
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation over the co-purchase graph:
    parts appearing in the SAME order are neighbors (edge weight =
    co-order count), small parts (p_size ≤ 10) are labeled seeds with
    their p_type, and two synchronous rounds spread labels — each
    unlabeled node adopts the weighted-majority label of its CURRENTLY
    labeled neighbors (tie-break: lexicographically smallest label, the
    id-tie-break doctrine on a categorical; no labeled neighbor yet →
    carry). Seeds are clamped. Output is the (true type × propagated
    label × seeded) confusion rollup — both the algorithm's fixture and
    its accuracy diagnostic in one bounded frame.

    This completes the iterative-graph trio (connected components =
    reachability, PageRank = stationary mass, label propagation =
    semi-supervised classification) as pure DataFrame compositions with
    fully unrolled SQL oracles.

    Scale shape: edges come from an order-bounded self-join (per-order
    lineitem counts are small and bounded — ≤ 12 in this testdata ⇒
    ≤ 132 directed pairs per order; the same bounded-clique device as
    the interval bins); each round is one
    edge⋈label equi-join + a (node, label) vote aggregate + a
    node-PARTITIONED rank window. Rounds are a fixed unrolled count, so
    the lineage stays shallow; at a real diameter the CC operator's
    checkpoint-every-k doctrine applies."""
    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    # Edge build in ONE order-keyed shuffle: collect_set dedupes parts
    # inside each order (bounded set, ≤ order size) and the bounded
    # double-explode emits the per-order clique — replacing the
    # distinct + self-join form, which paid a (o,p) exchange AND a join
    # exchange for the same 2.39M edges (measured 4.0 s → 1.9 s warm at
    # sf0.1). Materialization doctrine (CC/PageRank): the edge frame
    # feeds BOTH rounds and each round's label frame feeds two branches
    # (neighbor source + carry base) — without pinning, Spark re-runs
    # the edge build 3x and round-1 twice (measured ~2x slower).
    # localCheckpoint executes at build, so the window audit lists this
    # query under EXECUTES_AT_BUILD.
    sets = li.groupBy("o").agg(F.collect_set("p").alias("ps"))
    pairs = (
        sets.select(F.explode("ps").alias("u"), "ps")
        .select("u", F.explode("ps").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    # Pin the edge frame PRE-PARTITIONED ON u (localCheckpoint preserves
    # outputPartitioning): with the label side broadcast below, each
    # round's neighbor join preserves hash(u), so the vote aggregate
    # (clustered on (u, lbl) — hash(u) satisfies it) and the rank window
    # (pk = u) both reuse the one build-time exchange: ZERO e-sized
    # shuffles per round (measured 4.2 → 2.7 s at sf0.1; repartition
    # without the broadcast showed no win — the v-keyed shuffle join
    # destroys hash(u) again). Cluster fault-tolerance: the pin goes
    # through graph.truncate_lineage, so SPARK_GRAFT_CHECKPOINT=reliable
    # swaps it to durable checkpoint() at deployment time (SCALING.md
    # "Reliable-checkpoint doctrine"); the u-partitioning survives the
    # swap too.
    from datamodel_clinicaldata_spark.operators.graph import truncate_lineage
    from datamodel_clinicaldata_spark.operators.partitioning import (
        fits_auto_broadcast,
    )

    p = read_table(spark, sf_dir, "part")
    labels = p.select(
        F.col("p_partkey").alias("pk"),
        "p_type",
        (F.col("p_size") <= 10).alias("seeded"),
        F.when(F.col("p_size") <= 10, F.col("p_type")).alias("lbl"),
    )
    # r14 (verdict r13 #4): decide the round shape ONCE, from the
    # planner's estimate of the FULL vertex-label projection (an upper
    # bound on any round's labeled set — per-round frames are pinned and
    # carry useless cascaded origin estimates). While it fits a
    # broadcast, rounds are the r13 zero-shuffle shape; past that, the
    # GraphX-style vertex-routing shape below.
    routed = not fits_auto_broadcast(labels.select("pk", "lbl"))

    # r13: repartition("u") FIRST, then aggregate — HashPartitioning(u)
    # satisfies the (u, v) ClusteredDistribution (a subset of the keys),
    # so the count aggregate rides the same exchange instead of paying
    # its own (u, v) shuffle of the full exploded pair stream and THEN a
    # second u-keyed shuffle of the aggregated edges. One exchange
    # instead of two on the edge build (plan diff in
    # plans/r13/graph_label_propagation_{before,after}.txt); measured
    # A/B alternated at sf0.1: 2.92 s → 2.67 s min, 3.1 → 2.7 median.
    # r14 routed mode: the pin is instead keyed on v — the join side the
    # rounds probe — so the edge frame shuffles ONCE at build and never
    # again (GraphX's routing-table role); per-round traffic is then
    # bounded by vertex/message sizes, not edges.
    agg_edges = pairs.repartition("u").groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("long").alias("w")
    )
    e = truncate_lineage(
        agg_edges.repartition("v") if routed else agg_edges
    )

    def one_round(lab: DataFrame) -> DataFrame:
        labeled = lab.filter(F.col("lbl").isNotNull()).select(
            F.col("pk").alias("v"), F.col("lbl").alias("nb_lbl")
        )
        if routed:
            # Vertex routing: e is pinned hash(v); only the (vertex-
            # sized) label frame shuffles to meet it, the join emits
            # votes already co-located by v, and the vote aggregate's
            # partial (map-side) phase shrinks the only remaining
            # exchange to distinct (u, lbl) pairs. Edges cross the wire
            # zero times per round.
            nb = e.join(labeled.repartition("v"), "v")
        else:
            # Broadcast the labeled frame: |seed-reachable parts| here,
            # and the key to the zero-shuffle round (the e pin is
            # hash(u), which the vote aggregate and rank window reuse).
            nb = e.join(F.broadcast(labeled), "v")
        votes = nb.groupBy(F.col("u").alias("pk"), F.col("nb_lbl")).agg(
            F.sum("w").cast("long").alias("votes")
        )
        wr = Window.partitionBy("pk").orderBy(
            F.col("votes").desc(), F.col("nb_lbl").asc()
        )
        cand = (
            votes.withColumn("rn", F.row_number().over(wr))
            .filter(F.col("rn") == 1)
            .select("pk", F.col("nb_lbl").alias("new_lbl"))
        )
        return lab.join(cand, "pk", "left").select(
            "pk",
            "p_type",
            "seeded",
            F.when(F.col("seeded"), F.col("lbl"))
            .otherwise(F.coalesce(F.col("new_lbl"), F.col("lbl")))
            .alias("lbl"),
        )

    l2 = one_round(truncate_lineage(one_round(labels)))
    return l2.groupBy(
        F.col("p_type").alias("true_type"),
        F.coalesce(F.col("lbl"), F.lit("none")).alias("propagated"),
        "seeded",
    ).agg(F.count(F.lit(1)).cast("long").alias("n_parts"))


@register(
    "feature_woe_encoding",
    """
    WITH g AS (
      SELECT o_orderpriority AS cat,
             CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS bad,
             CAST(sum(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS good
      FROM orders GROUP BY 1
    ),
    t AS (
      SELECT CAST(sum(bad) AS BIGINT) AS bad_tot,
             CAST(sum(good) AS BIGINT) AS good_tot,
             CAST(count(*) AS BIGINT) AS k
      FROM g
    )
    SELECT g.cat,
           g.bad + g.good AS n,
           g.bad AS n_bad,
           CAST(floor(ln(
             (CAST(g.bad + 1 AS DOUBLE) * (t.good_tot + t.k))
             / (CAST(g.good + 1 AS DOUBLE) * (t.bad_tot + t.k))
           ) * 1000000 + 0.5) AS BIGINT) AS woe_e6
    FROM g, t
    """,
)
def feature_woe_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence categorical encoding — the credit-scoring /
    risk-model standard that ``feature_target_encoding`` (mean-rate LOO)
    does not cover: per category, ln of the odds ratio between the
    category's share of bad outcomes (order status F) and its share of
    good, with +1 Laplace smoothing on the category counts and the
    category count k on the totals so empty cells stay finite. The ln
    argument is an exact integer ratio assembled from 4 exact counts;
    the single transcendental quantizes to e6 (shared ln doctrine).

    Scale shape: one map-side-combined aggregate to the category
    dimension, a 1-row totals fold cross-joined (broadcast) back — the
    plan-folded-totals shape (r7 ask #4), no action between read and
    return, reusable as a view."""
    o = read_table(spark, sf_dir, "orders")
    g = o.groupBy(F.col("o_orderpriority").alias("cat")).agg(
        F.sum((F.col("o_orderstatus") == "F").cast("long"))
        .cast("long")
        .alias("bad"),
        F.sum((F.col("o_orderstatus") != "F").cast("long"))
        .cast("long")
        .alias("good"),
    )
    t = g.agg(
        F.sum("bad").cast("long").alias("bad_tot"),
        F.sum("good").cast("long").alias("good_tot"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    return g.crossJoin(F.broadcast(t)).select(
        "cat",
        (F.col("bad") + F.col("good")).alias("n"),
        F.col("bad").alias("n_bad"),
        F.floor(
            F.log(
                ((F.col("bad") + 1).cast("double")
                 * (F.col("good_tot") + F.col("k")))
                / ((F.col("good") + 1).cast("double")
                   * (F.col("bad_tot") + F.col("k")))
            )
            * 1_000_000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("woe_e6"),
    )


@register(
    "diag_column_profile",
    """
    WITH cols AS (
      SELECT 'event_type' AS col, event_type AS v FROM events
      UNION ALL
      SELECT 'props', props FROM events
      UNION ALL
      SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events
      UNION ALL
      SELECT 'day', strftime(ts, '%Y-%m-%d') FROM events
    ),
    vc AS (
      SELECT col, v, CAST(count(*) AS BIGINT) AS c
      FROM cols WHERE v IS NOT NULL GROUP BY 1, 2
    ),
    prof AS (
      SELECT col,
             CAST(sum(c) AS BIGINT) AS n_nonnull,
             CAST(count(*) AS BIGINT) AS n_distinct
      FROM vc GROUP BY 1
    ),
    top AS (
      SELECT col, v AS top_value, c AS top_freq FROM (
        SELECT col, v, c,
               row_number() OVER (PARTITION BY col
                                  ORDER BY c DESC, v ASC) AS rn
        FROM vc
      ) WHERE rn = 1
    ),
    nulls AS (
      SELECT col, CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null
      FROM cols GROUP BY 1
    )
    SELECT prof.col, prof.n_nonnull, nulls.n_null, prof.n_distinct,
           top.top_value, top.top_freq
    FROM prof JOIN top USING (col) JOIN nulls USING (col)
    """,
)
def diag_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style column profiling in one pass: for each audited column
    of ``events`` (type, props, user id, event day — all rendered
    engine-portably: ints via CAST, dates via a fixed format, doubles
    deliberately excluded since their string forms differ between
    engines), emit non-null count, null count, exact distinct count, and
    the modal value with a deterministic (freq desc, value asc)
    tie-break. The data-quality dashboard row every ingestion pipeline
    wants before schema contracts are enforced.

    Scale shape: ONE scan — each row explodes to its four (column,
    value) observations through a literal struct array (the unpivot
    device), so profiling C columns costs one pass regardless of C,
    not C scans; the (col, value) count is map-side combined; the mode
    window partitions BY COLUMN over the value-count frame. Value
    cardinality bounds every post-shuffle frame."""
    e = read_table(spark, sf_dir, "events")
    # ONE scan, not a 4-way union of scans: each row explodes into its
    # four (column, value) observations via inline_outer over a literal
    # array of structs — the unpivot device (cf. unpivot_part_metrics),
    # pinned single-scan by tests/test_plans.py.
    cols = e.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("event_type").alias("col"),
                    F.col("event_type").alias("v"),
                ),
                F.struct(
                    F.lit("props").alias("col"), F.col("props").alias("v")
                ),
                F.struct(
                    F.lit("user_id").alias("col"),
                    F.col("user_id").cast("string").alias("v"),
                ),
                F.struct(
                    F.lit("day").alias("col"),
                    F.date_format("ts", "yyyy-MM-dd").alias("v"),
                ),
            )
        ).alias("cv")
    ).select(F.col("cv.col").alias("col"), F.col("cv.v").alias("v"))
    # ONE (col, value) aggregate with the NULL group kept in-band: the
    # profile totals, the null count, the distinct count, and the mode
    # all derive from this same frame, so the two downstream consumers
    # share one exchange (ReusedExchange) and the corpus is scanned once.
    vc0 = cols.groupBy("col", "v").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    prof = vc0.groupBy("col").agg(
        F.coalesce(
            F.sum(F.when(F.col("v").isNotNull(), F.col("c"))), F.lit(0)
        ).cast("long").alias("n_nonnull"),
        F.coalesce(
            F.sum(F.when(F.col("v").isNull(), F.col("c"))), F.lit(0)
        ).cast("long").alias("n_null"),
        F.count(F.when(F.col("v").isNotNull(), F.lit(1)))
        .cast("long")
        .alias("n_distinct"),
    )
    # The mode rank runs over the SAME unfiltered vc0 frame (nulls
    # sorted last) — a pre-window null filter would get pushed into this
    # branch's aggregate subtree and break the exchange reuse that makes
    # the whole profile one scan.
    wr = Window.partitionBy("col").orderBy(
        F.col("v").isNull().asc(), F.col("c").desc(), F.col("v").asc()
    )
    top = (
        vc0.withColumn("rn", F.row_number().over(wr))
        .filter((F.col("rn") == 1) & F.col("v").isNotNull())
        .select("col", F.col("v").alias("top_value"),
                F.col("c").alias("top_freq"))
    )
    return (
        prof.join(top, "col")
        .select("col", "n_nonnull", "n_null", "n_distinct",
                "top_value", "top_freq")
    )


@register(
    "events_windowed_topk",
    """
    WITH w AS (
      SELECT time_bucket(INTERVAL '1 day', ts) AS window_start,
             event_type, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT window_start, event_type, n, CAST(rn AS BIGINT) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY window_start ORDER BY n DESC, event_type ASC) AS rn
      FROM w
    ) WHERE rn <= 3
    """,
)
def events_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 event types per 1-day tumbling window — the trending-now /
    leaderboard query every event dashboard runs. Composition: the
    tumbling bucketing of the streaming family's batch face + a rank
    window PARTITIONED BY WINDOW over the (window × type) count frame,
    deterministic via the (count desc, type asc) total order.

    Scale shape: one map-side-combined (window, type) count shuffle —
    the only corpus-sized work; the rank window runs over a frame
    bounded by |windows|×|types| and partitions by window, so a year of
    data is 365 independent partitions. No global ordering, no
    TakeOrdered needed (per-partition k, not global k)."""
    e = read_table(spark, sf_dir, "events")
    w = e.groupBy(
        F.window("ts", "1 day")["start"].alias("window_start"),
        "event_type",
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    wr = Window.partitionBy("window_start").orderBy(
        F.col("n").desc(), F.col("event_type").asc()
    )
    return (
        w.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= 3)
    )


@register(
    "mixture_token_budget_allocation",
    """
    WITH w AS (
      SELECT source,
             CAST(sum(len(string_split_regex(trim(text), '\\s+')))
                  AS BIGINT) AS tokens
      FROM documents GROUP BY 1
    ),
    t AS (SELECT CAST(sum(tokens) AS HUGEINT) AS tot FROM w),
    q AS (
      SELECT source, tokens,
             CAST(CAST(tokens AS HUGEINT) * 1000000 // t.tot AS BIGINT)
               AS base,
             CAST(CAST(tokens AS HUGEINT) * 1000000 % t.tot AS BIGINT)
               AS rem
      FROM w, t
    ),
    r AS (
      SELECT *,
             CAST(row_number() OVER (ORDER BY rem DESC, source ASC)
                  AS BIGINT) AS rk,
             CAST(1000000 - sum(base) OVER () AS BIGINT) AS leftover
      FROM q
    )
    SELECT source, tokens, base,
           base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS alloc
    FROM r
    """,
)
def mixture_token_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamilton (largest-remainder) apportionment of a fixed token
    budget across sources — the exact integer answer to "give me
    1,000,000 tokens in proportion to each source's mass" where naive
    per-source rounding either over- or under-shoots the budget. Every
    quantity is integer: base share = ⌊tokens·B / total⌋ via HUGEINT/
    DECIMAL(38,0) division, remainders compared as ``tokens·B mod
    total`` (never a float fraction), the Σbase shortfall handed to the
    largest remainders with a source-name tie-break. Σalloc == B by
    construction — the property float apportionment cannot guarantee.

    Scale shape: one map-side-combined per-source token count (the only
    corpus-sized work); apportionment runs on the |sources|-bounded
    dimension frame (the remainder rank + leftover windows are over
    that bounded frame — same justification as the mixture/temperature
    rows); totals broadcast."""
    d = read_table(spark, sf_dir, "documents")
    w = d.groupBy("source").agg(
        F.sum(F.size(F.split(F.trim(F.col("text")), r"\s+")))
        .cast("long")
        .alias("tokens")
    )
    t = w.agg(F.sum("tokens").cast("decimal(38,0)").alias("tot"))
    q = w.crossJoin(F.broadcast(t)).select(
        "source",
        "tokens",
        F.expr(
            "CAST(CAST(tokens AS DECIMAL(38,0)) * 1000000 div tot AS BIGINT)"
        ).alias("base"),
        F.expr(
            "CAST(CAST(tokens AS DECIMAL(38,0)) * 1000000 % tot AS BIGINT)"
        ).alias("rem"),
    )
    wr = Window.orderBy(F.col("rem").desc(), F.col("source").asc())
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    r = q.select(
        "source",
        "tokens",
        "base",
        F.row_number().over(wr).cast("long").alias("rk"),
        (F.lit(1_000_000) - F.sum("base").over(wall))
        .cast("long")
        .alias("leftover"),
    )
    return r.select(
        "source",
        "tokens",
        "base",
        (F.col("base")
         + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0))
        .cast("long")
        .alias("alloc"),
    )


@register(
    "orders_yoy_growth",
    """
    WITH m AS (
      SELECT CAST(date_part('year', o_orderdate) AS BIGINT) AS y,
             CAST(date_part('month', o_orderdate) AS BIGINT) AS mo,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS rev_cents,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1, 2
    )
    SELECT y, mo, rev_cents, n_orders,
           CAST(rev_cents - lag(rev_cents, 12)
                OVER (ORDER BY y * 12 + mo) AS BIGINT) AS yoy_delta_cents,
           CASE WHEN lag(rev_cents, 12) OVER (ORDER BY y * 12 + mo) > 0
                THEN CAST((rev_cents - lag(rev_cents, 12)
                           OVER (ORDER BY y * 12 + mo)) * 10000
                          // lag(rev_cents, 12) OVER (ORDER BY y * 12 + mo)
                          AS BIGINT)
           END AS yoy_bps
    FROM m
    """,
)
def orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year monthly revenue growth — the reporting staple:
    each month's revenue against the SAME month last year (lag 12 over
    the month sequence), with the growth rate in integer basis points
    (Δ·10⁴ div prior — exact, truncating, sign-consistent across
    engines per the verified div/// agreement). Months without a prior
    year emit NULL deltas rather than fake zeros.

    Scale shape: one map-side-combined (year, month) aggregate collapses
    the corpus; the lag window runs over the CALENDAR-bounded month
    frame (window_audit BOUNDED_OK) — a century is 1,200 rows."""
    o = read_table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.year("o_orderdate").cast("long").alias("y"),
        F.month("o_orderdate").cast("long").alias("mo"),
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        )
        .cast("long")
        .alias("rev_cents"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    w = Window.orderBy(F.col("y") * 12 + F.col("mo"))
    prior = F.lag("rev_cents", 12).over(w)
    return m.select(
        "y",
        "mo",
        "rev_cents",
        "n_orders",
        (F.col("rev_cents") - prior).cast("long").alias("yoy_delta_cents"),
        F.when(
            prior > 0,
            F.expr(
                "CAST((rev_cents - lag(rev_cents, 12) OVER "
                "(ORDER BY y * 12 + mo)) * 10000 div lag(rev_cents, 12) "
                "OVER (ORDER BY y * 12 + mo) AS BIGINT)"
            ),
        ).alias("yoy_bps"),
    )


@register(
    "events_ab_test_uplift",
    """
    WITH u AS (
      SELECT user_id,
             CAST((CAST(user_id AS HUGEINT) * 2654435761) % 2 AS BIGINT)
               AS variant,
             CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS converted
      FROM events GROUP BY 1
    ),
    v AS (
      SELECT variant,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(converted) AS BIGINT) AS n_converted
      FROM u GROUP BY 1
    ),
    x AS (
      SELECT max(CASE WHEN variant = 1 THEN n_converted END)
               * max(CASE WHEN variant = 0 THEN n_users END)
             > max(CASE WHEN variant = 0 THEN n_converted END)
               * max(CASE WHEN variant = 1 THEN n_users END)
             AS treatment_wins
      FROM v
    )
    SELECT v.variant, v.n_users, v.n_converted,
           CAST(v.n_converted * 10000 // v.n_users AS BIGINT) AS rate_bps,
           x.treatment_wins
    FROM v, x
    """,
)
def events_ab_test_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B-test readout with a float-free verdict: users split into
    control/treatment by the deterministic Knuth hash (replayable in
    SQL — the sampling doctrine), conversion = any purchase, and the
    winner decided by EXACT integer cross-multiplication
    (conv_t·n_c > conv_c·n_t ⟺ rate_t > rate_c, no division, no
    epsilon) — the comparison a float rate difference gets wrong
    exactly when it matters, at the close races. Rates reported in
    truncated basis points for humans; the verdict never reads them.

    Scale shape: one user-keyed conversion rollup (map-side combined
    max), one 2-row variant aggregate, the verdict folded from the
    2-row frame and broadcast back — no window over unbounded input,
    single scan."""
    from datamodel_clinicaldata_spark.functions.sampling import knuth_mod

    e = read_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("long"))
        .cast("long")
        .alias("converted")
    ).select(
        knuth_mod("user_id", 2).cast("long").alias("variant"), "converted"
    )
    v = u.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
    )
    x = v.agg(
        (
            F.max(F.when(F.col("variant") == 1, F.col("n_converted")))
            * F.max(F.when(F.col("variant") == 0, F.col("n_users")))
            > F.max(F.when(F.col("variant") == 0, F.col("n_converted")))
            * F.max(F.when(F.col("variant") == 1, F.col("n_users")))
        ).alias("treatment_wins")
    )
    return v.crossJoin(F.broadcast(x)).select(
        "variant",
        "n_users",
        "n_converted",
        F.expr("CAST(n_converted * 10000 div n_users AS BIGINT)").alias(
            "rate_bps"
        ),
        "treatment_wins",
    )


@register(
    "feature_quantile_normalization",
    """
    WITH g AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
             o_orderkey AS id,
             CAST((CAST(o_orderkey AS HUGEINT) * 2654435761) % 2 AS BIGINT)
               AS half
      FROM orders
    ),
    r AS (
      SELECT half, v,
             CAST(row_number() OVER (PARTITION BY half ORDER BY v, id)
                  AS BIGINT) AS rk
      FROM g
    ),
    m AS (
      SELECT rk,
             CAST(count(*) AS BIGINT) AS n_halves,
             CAST(sum(v) // count(*) AS BIGINT) AS norm_cents
      FROM r GROUP BY 1
    )
    SELECT r.half, r.rk AS rank_in_half, r.v AS v_cents,
           m.norm_cents, m.n_halves
    FROM r JOIN m USING (rk)
    WHERE r.rk <= 20
    """,
)
def feature_quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization across two deterministic batches (the
    Knuth-hash halves) — the batch-effect correction standard from
    bioinformatics, increasingly used to align feature distributions
    across data sources: rank every value WITHIN its batch, replace it
    with the cross-batch mean of the values sharing that rank. Emitted
    for the first 20 ranks (the hashable fixture; the mapping is
    defined for all of them). Integer-exact: cents in, tie-broken total
    order, truncated integral mean out.

    Scale shape: this is the place where a naive PARTITION BY batch
    window funnels HALF THE CORPUS through one task, so the engine
    instead computes both per-batch ranks in ONE ``ordered_prefix``
    range-shuffle over the composite order (half, v, id) — rank within
    half = global rank − the half's offset, with the offset read from
    the same checkpointed prefix frame (max rank of half 0). The
    rank-mean regroup is an equi-join on rank — hash-partitioned, no
    ordering needed."""
    from datamodel_clinicaldata_spark.functions.sampling import knuth_mod
    from datamodel_clinicaldata_spark.operators.ranking import ordered_prefix

    o = read_table(spark, sf_dir, "orders")
    g = o.select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("v"),
        F.col("o_orderkey").alias("id"),
        knuth_mod(F.col("o_orderkey"), 2).cast("long").alias("half"),
    )
    # r13: counted-small path — A/B at sf0.1: 3.68 → 1.70 s (on top of
    # the window-over-rk rewrite below).
    ranked = ordered_prefix(
        g,
        [F.col("half").asc(), F.col("v").asc(), F.col("id").asc()],
        rank_col="grank",
        count_small=2_000_000,
    )
    # offset of half 1 = |half 0| = max global rank among half-0 rows;
    # a 1-row broadcast read from the SAME materialized prefix frame.
    off = ranked.filter(F.col("half") == 0).agg(
        F.coalesce(F.max("grank"), F.lit(0)).cast("long").alias("n0")
    )
    r = ranked.crossJoin(F.broadcast(off)).select(
        "half",
        "v",
        (
            F.col("grank")
            - F.when(F.col("half") == 1, F.col("n0")).otherwise(0)
        )
        .cast("long")
        .alias("rk"),
    )
    # r13 (guide §2.4): the rank-mean regroup was a groupBy(rk) + join
    # back to r — the rk ≤ 20 output filter could not push below that
    # join (rk is window-derived), so the FULL frame rode a groupBy, a
    # sort-merge join, and a second copy of the whole ranked+offset
    # subtree (plans/r13/..._before.txt: 12 exchanges, 4 windows, the
    # prefix pipeline executed 4×). A window over partition key rk on
    # the PRE-filtered frame is exactly the same per-group count/mean —
    # filtering on the partition key keeps groups intact — and consumes
    # r once: one tiny exchange over the ≤ 2·20 surviving rows.
    wrk = Window.partitionBy("rk")
    return r.filter(F.col("rk") <= 20).select(
        "half",
        F.col("rk").alias("rank_in_half"),
        F.col("v").alias("v_cents"),
        F.expr(
            "CAST(sum(v) OVER (PARTITION BY rk) div count(*) OVER (PARTITION BY rk) AS BIGINT)"
        ).alias("norm_cents"),
        F.count(F.lit(1)).over(wrk).cast("long").alias("n_halves"),
    )


@register(
    "pattern_click_purchase_no_error",
    """
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             CAST(row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS BIGINT) AS rn
      FROM events
    ),
    lastc AS (
      SELECT user_id, event_type, rn,
             CAST(max(CASE WHEN event_type = 'click' THEN rn END)
                  OVER (PARTITION BY user_id ORDER BY rn
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS BIGINT) AS last_click,
             CAST(max(CASE WHEN event_type = 'error' THEN rn END)
                  OVER (PARTITION BY user_id ORDER BY rn
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS BIGINT) AS last_error
      FROM seq
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_matches,
           CAST(min(rn) AS BIGINT) AS first_match_rn
    FROM lastc
    WHERE event_type = 'purchase'
      AND last_click IS NOT NULL
      AND (last_error IS NULL OR last_error < last_click)
    GROUP BY 1
    """,
)
def pattern_click_purchase_no_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negation pattern matching (the MATCH_RECOGNIZE shape
    ``CLICK  (NOT ERROR)*  PURCHASE``): purchases whose most recent
    preceding click happened WITHOUT an error in between — the CEP
    predicate behind "did checkout succeed cleanly?" funnels. The
    negation needs no self-join and no regex engine: two running
    prefix-max windows (last click position, last error position) over
    the same per-user sort reduce the pattern to one integer comparison
    per purchase (click exists AND any error precedes it).

    Scale shape: ONE user-partitioned sort carries the row-number and
    both prefix-max frames (byte-identical sort requirements — the
    engine's shared-window staging); the rollup is per-user. Adding
    more negated symbols costs one more running max on the SAME sort,
    never another pass."""
    e = read_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wprev = (
        Window.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = e.select(
        "user_id",
        "event_type",
        F.row_number().over(wo).cast("long").alias("rn"),
    )
    lastc = seq.select(
        "user_id",
        "event_type",
        "rn",
        F.max(
            F.when(F.col("event_type") == "click", F.col("rn"))
        ).over(wprev).cast("long").alias("last_click"),
        F.max(
            F.when(F.col("event_type") == "error", F.col("rn"))
        ).over(wprev).cast("long").alias("last_error"),
    )
    return (
        lastc.filter(
            (F.col("event_type") == "purchase")
            & F.col("last_click").isNotNull()
            & (
                F.col("last_error").isNull()
                | (F.col("last_error") < F.col("last_click"))
            )
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_matches"),
            F.min("rn").cast("long").alias("first_match_rn"),
        )
    )


@register(
    "events_ltv_cohort_curve",
    """
    WITH f AS (
      SELECT user_id,
             CAST(min(date_trunc('week', ts)) AS DATE) AS cohort
      FROM events GROUP BY 1
    ),
    x AS (
      SELECT f.cohort,
             CAST(date_diff('day', f.cohort, e.ts::DATE) // 7 AS BIGINT)
               AS age_w,
             CAST(floor(e.value * 100 + 0.5) AS BIGINT) AS cents
      FROM events e JOIN f ON f.user_id = e.user_id
      WHERE e.event_type = 'purchase'
    ),
    m AS (
      SELECT cohort, age_w,
             CAST(sum(cents) AS BIGINT) AS rev_cents,
             CAST(count(*) AS BIGINT) AS n_purchases
      FROM x GROUP BY 1, 2
    )
    SELECT strftime(cohort, '%Y-%m-%d') AS cohort, age_w, rev_cents,
           n_purchases,
           CAST(sum(rev_cents) OVER (PARTITION BY cohort ORDER BY age_w
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_cents
    FROM m
    """,
)
def events_ltv_cohort_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lifetime-value curve per signup cohort: users cohorted by their
    FIRST event week (the corpus spans ~1 month, so weekly cohorts give
    a real curve where monthly would collapse to one cell), purchase
    revenue bucketed by cohort age in weeks, and the running cumulative
    revenue per cohort — the revenue
    companion to ``retention_cohort_matrix`` (that row counts who comes
    back; this one counts what they spend as the cohort matures).
    Exact cents; cohort rendered as a fixed-format string so the value
    hash is engine-portable.

    Scale shape: one user-keyed first-event aggregate (map-side
    combined), an equi-join of purchases to their user's cohort (user
    key — AQE broadcasts the cohort dim when small, shuffles when not),
    a (cohort, age) rollup, and a cumulative window PARTITIONED by
    cohort over the calendar-bounded (cohort × age) frame."""
    e = read_table(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(
        F.min(F.date_trunc("week", F.col("ts"))).cast("date").alias("cohort")
    )
    x = (
        e.filter(F.col("event_type") == "purchase")
        .join(f, "user_id")
        .select(
            "cohort",
            F.expr("CAST(datediff(to_date(ts), cohort) div 7 AS BIGINT)")
            .alias("age_w"),
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
    )
    m = x.groupBy("cohort", "age_w").agg(
        F.sum("cents").cast("long").alias("rev_cents"),
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
    )
    wc = (
        Window.partitionBy("cohort")
        .orderBy("age_w")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return m.select(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort"),
        "age_w",
        "rev_cents",
        "n_purchases",
        F.sum("rev_cents").over(wc).cast("long").alias("cum_rev_cents"),
    )


@register(
    "events_recency_decay_score",
    """
    WITH mx AS (
      SELECT CAST(max(ts::DATE) AS DATE) AS asof FROM events
    ),
    t AS (
      SELECT e.user_id,
             CAST(floor(e.value * 100 + 0.5) AS BIGINT) AS cents,
             date_diff('day', e.ts::DATE, mx.asof) AS age_d
      FROM events e, mx
      WHERE e.event_type = 'purchase'
    ),
    terms AS (
      SELECT user_id,
             CAST(floor(cents * exp(-0.099021 * age_d) + 0.5) AS BIGINT)
               AS term_cents
      FROM t
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(term_cents) AS BIGINT) AS decayed_cents
    FROM terms GROUP BY 1
    """,
)
def events_recency_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed customer value: every purchase contributes its
    cents discounted by e^(−λ·age_days) with a 7-day half-life
    (λ = ln2/7 ≈ 0.099021) against the corpus's last event date — the
    time-decay scoring behind churn-risk rankings and decayed LTV,
    where last week's purchase outweighs last quarter's. Exactness by
    the per-term quantization doctrine: each event's decayed
    contribution floors to integer cents BEFORE the per-user sum (one
    fixed-shape double exp per event, identical IEEE on both engines;
    the integer sum is order-insensitive — a float Σv·e^(−λt) would
    hash-diverge under Spark's nondeterministic reduction order).

    Scale shape: the as-of date is a 1-row broadcast fold; scoring is
    one scan + one user-keyed map-side-combined aggregate. The decay
    needs NO window and no per-user state — each term is independent,
    which is exactly why the quantize-then-sum form distributes."""
    e = read_table(spark, sf_dir, "events")
    mx = e.agg(F.max(F.to_date("ts")).alias("asof"))
    t = (
        e.filter(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
            F.datediff(F.col("asof"), F.to_date("ts")).alias("age_d"),
        )
    )
    terms = t.select(
        "user_id",
        F.floor(
            F.col("cents")
            * F.exp(F.lit(-0.099021) * F.col("age_d"))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("term_cents"),
    )
    return terms.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.sum("term_cents").cast("long").alias("decayed_cents"),
    )


@register(
    "diag_label_imbalance",
    """
    WITH g AS (
      SELECT CAST(label AS BIGINT) AS label, CAST(count(*) AS BIGINT) AS n
      FROM embeddings GROUP BY 1
    ),
    gt AS (
      SELECT label, n, CAST(sum(n) OVER () AS BIGINT) AS tot,
             CAST(floor(-(CAST(n AS DOUBLE) / sum(n) OVER ())
                  * ln(CAST(n AS DOUBLE) / sum(n) OVER ())
                  * 1000000000 + 0.5) AS BIGINT) AS term
      FROM g
    ),
    t AS (
      SELECT CAST(max(tot) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_labels,
             CAST(max(n) * 1000000 // min(n) AS BIGINT) AS imbalance_e6,
             CAST(sum(term) AS BIGINT) AS h_e9
      FROM gt
    )
    SELECT g.label, g.n,
           CAST(g.n * 10000 // t.total AS BIGINT) AS share_bps,
           t.n_labels, t.imbalance_e6,
           CAST(floor(exp(CAST(t.h_e9 AS DOUBLE) / 1000000000)
                      * 1000000 + 0.5) AS BIGINT) AS effective_classes_e6
    FROM g, t
    """,
)
def diag_label_imbalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-imbalance report over the embedding labels — the first
    chart anyone training a classifier draws: per-label counts and
    shares, the max/min imbalance ratio, and the EFFECTIVE number of
    classes exp(H) (Shannon diversity — 10 labels at effective 3.2
    means the tail classes barely exist). Entropy terms quantize to e9
    integers BEFORE the sum (per-term ln doctrine — the label frame is
    small, but the doctrine is free and makes the hash order-proof);
    the single exp is one fixed-shape double.

    Scale shape: one map-side-combined label count; everything else
    folds on the |labels|-bounded dimension frame (the share window and
    min/max run there) and broadcasts back."""
    emb = read_table(spark, sf_dir, "embeddings")
    g = emb.groupBy(F.col("label").cast("long").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    term = F.floor(
        -(F.col("n").cast("double") / F.col("__tot"))
        * F.log(F.col("n").cast("double") / F.col("__tot"))
        * 1_000_000_000
        + F.lit(0.5)
    ).cast("long")
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t = (
        g.withColumn("__tot", F.sum("n").over(wall))
        .agg(
            F.max("__tot").cast("long").alias("total"),
            F.count(F.lit(1)).cast("long").alias("n_labels"),
            F.expr(
                "CAST(max(n) * 1000000 div min(n) AS BIGINT)"
            ).alias("imbalance_e6"),
            F.sum(term).cast("long").alias("h_e9"),
        )
    )
    return g.crossJoin(F.broadcast(t)).select(
        "label",
        "n",
        F.expr("CAST(n * 10000 div total AS BIGINT)").alias("share_bps"),
        "n_labels",
        "imbalance_e6",
        F.floor(
            F.exp(F.col("h_e9").cast("double") / 1_000_000_000)
            * 1_000_000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("effective_classes_e6"),
    )


@register(
    "events_markov_entropy_rate",
    """
    WITH seq AS (
      SELECT user_id, event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    e AS (
      SELECT cur, nxt, CAST(count(*) AS BIGINT) AS c
      FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
    ),
    et AS (
      SELECT cur, c,
             CAST(floor(-(CAST(c AS DOUBLE) / sum(c) OVER (PARTITION BY cur))
                  * ln(CAST(c AS DOUBLE) / sum(c) OVER (PARTITION BY cur))
                  * 1000000000 + 0.5) AS BIGINT) AS term
      FROM e
    ),
    s AS (
      SELECT cur,
             CAST(sum(c) AS BIGINT) AS n_transitions,
             CAST(sum(term) AS BIGINT) AS h_next_e9
      FROM et GROUP BY cur
    ),
    t AS (SELECT CAST(sum(n_transitions) AS BIGINT) AS total FROM s)
    SELECT s.cur AS state, s.n_transitions, s.h_next_e9,
           CAST(s.n_transitions * 10000 // t.total AS BIGINT) AS weight_bps
    FROM s, t
    """,
)
def events_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-state conditional next-event entropy H(next | state) — the
    predictability profile of the user-journey Markov chain
    (``events_markov_transitions``' edges viewed through an information
    lens): a state with near-zero H funnels deterministically (click →
    purchase), one near ln(k) is a wander point; weighting by each
    state's transition share gives the chain's entropy rate. Each
    −p·ln p term quantizes to e9 BEFORE its per-state sum (per-term ln
    doctrine, order-insensitive).

    Scale shape: one user-partitioned lead pass (the same single sort
    the transition-matrix row pays), one (cur, nxt) map-side-combined
    count; the entropy fold and its row-total window run on the
    ≤|states|² edge frame; the grand total broadcasts."""
    e = read_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(wu).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    edges = seq.groupBy("cur", "nxt").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wc = Window.partitionBy("cur")
    term = F.floor(
        -(F.col("c").cast("double") / F.col("__row_tot"))
        * F.log(F.col("c").cast("double") / F.col("__row_tot"))
        * 1_000_000_000
        + F.lit(0.5)
    ).cast("long")
    s = (
        edges.withColumn("__row_tot", F.sum("c").over(wc))
        .groupBy("cur")
        .agg(
            F.sum("c").cast("long").alias("n_transitions"),
            F.sum(term).cast("long").alias("h_next_e9"),
        )
    )
    t = s.agg(F.sum("n_transitions").cast("long").alias("total"))
    return s.crossJoin(F.broadcast(t)).select(
        F.col("cur").alias("state"),
        "n_transitions",
        "h_next_e9",
        F.expr("CAST(n_transitions * 10000 div total AS BIGINT)").alias(
            "weight_bps"
        ),
    )


@register(
    "events_survival_life_table",
    """
    WITH mx AS (SELECT CAST(max(ts::DATE) AS DATE) AS eow FROM events),
    u AS (
      SELECT e.user_id,
             CAST(min(e.ts::DATE) AS DATE) AS start_d,
             CAST(min(CASE WHEN e.event_type = 'purchase'
                           THEN e.ts::DATE END) AS DATE) AS conv_d
      FROM events e GROUP BY 1
    ),
    d AS (
      SELECT user_id,
             CASE WHEN conv_d IS NOT NULL
                  THEN date_diff('day', start_d, conv_d)
                  ELSE date_diff('day', start_d, mx.eow) END AS t,
             (conv_d IS NOT NULL) AS converted
      FROM u, mx
    ),
    g AS (
      SELECT CAST(t AS BIGINT) AS t,
             CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT)
               AS d_conv,
             CAST(sum(CASE WHEN converted THEN 0 ELSE 1 END) AS BIGINT)
               AS d_cens
      FROM d GROUP BY 1
    ),
    lt AS (
      SELECT t, d_conv, d_cens,
             CAST((SELECT count(*) FROM d)
                  - coalesce(sum(d_conv + d_cens) OVER (
                      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
      FROM g
    )
    SELECT t AS day, n_risk, d_conv, d_cens,
           CAST(d_conv * 10000 // n_risk AS BIGINT) AS hazard_bps
    FROM lt
    """,
)
def events_survival_life_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival life table for time-to-first-purchase — the
    duration-based view that ``retention_cohort_matrix`` (calendar-
    based) cannot give: per day-since-signup, how many users were still
    at risk (no purchase yet, not yet censored by corpus end), how many
    converted that day, how many were censored, and the exact
    discrete hazard d/n in truncated basis points. The Kaplan-Meier
    survival curve is the running product of (1 − hazard); the table
    emits the exact integer ingredients rather than the float product
    (cumulative float products are order-fragile; the life table is
    the canonical exchange format anyway).

    Scale shape: one user-keyed first/first-conditional aggregate
    (map-side combined), the (duration, outcome) census is a
    ≤|study-window-days|×2 frame, and the at-risk count is ONE
    exclusive-prefix window over that calendar-bounded frame
    (window_audit BOUNDED_OK); the user total broadcasts."""
    e = read_table(spark, sf_dir, "events")
    mx = e.agg(F.max(F.to_date("ts")).alias("eow"))
    u = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("start_d"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.to_date("ts"))
        ).alias("conv_d"),
    )
    d = u.crossJoin(F.broadcast(mx)).select(
        F.when(
            F.col("conv_d").isNotNull(),
            F.datediff("conv_d", "start_d"),
        )
        .otherwise(F.datediff("eow", "start_d"))
        .cast("long")
        .alias("t"),
        F.col("conv_d").isNotNull().alias("converted"),
    )
    g = d.groupBy("t").agg(
        F.sum(F.col("converted").cast("long")).cast("long").alias("d_conv"),
        F.sum((~F.col("converted")).cast("long")).cast("long").alias("d_cens"),
    )
    tot = d.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    wp = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    lt = g.crossJoin(F.broadcast(tot)).select(
        "t",
        "d_conv",
        "d_cens",
        (
            F.col("n_users")
            - F.coalesce(
                F.sum(F.col("d_conv") + F.col("d_cens")).over(wp), F.lit(0)
            )
        )
        .cast("long")
        .alias("n_risk"),
    )
    return lt.select(
        F.col("t").alias("day"),
        "n_risk",
        "d_conv",
        "d_cens",
        F.expr("CAST(d_conv * 10000 div n_risk AS BIGINT)").alias(
            "hazard_bps"
        ),
    )


@register(
    "agg_incremental_refresh",
    """
    WITH tagged AS (
      SELECT o_orderpriority AS pri,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             ((CAST(o_orderkey AS HUGEINT) * 2654435761) % 10 = 0)
               AS is_delta
      FROM orders
    ),
    part_base AS (
      SELECT pri, CAST(sum(cents) AS BIGINT) AS rev,
             CAST(count(*) AS BIGINT) AS n
      FROM tagged WHERE NOT is_delta GROUP BY 1
    ),
    part_delta AS (
      SELECT pri, CAST(sum(cents) AS BIGINT) AS rev,
             CAST(count(*) AS BIGINT) AS n
      FROM tagged WHERE is_delta GROUP BY 1
    ),
    merged AS (
      SELECT pri, CAST(sum(rev) AS BIGINT) AS rev_cents,
             CAST(sum(n) AS BIGINT) AS n_orders
      FROM (SELECT * FROM part_base UNION ALL SELECT * FROM part_delta)
      GROUP BY 1
    ),
    full_r AS (
      SELECT pri, CAST(sum(cents) AS BIGINT) AS rev_cents,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM tagged GROUP BY 1
    )
    SELECT m.pri AS priority, m.rev_cents, m.n_orders,
           (m.rev_cents = f.rev_cents AND m.n_orders = f.n_orders)
             AS matches_full
    FROM merged m JOIN full_r f ON f.pri = m.pri
    """,
)
def agg_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance as a first-class, gate-checked
    property: the corpus splits into a 90% base and a 10% delta (Knuth
    hash — a deterministic stand-in for "yesterday's snapshot + today's
    drop"), each side folds to PARTIAL aggregates, and the refresh is a
    merge of partials — never a re-scan of the base. The row carries its
    own proof obligation: ``matches_full`` compares the merged result
    against the full recompute inside the same plan, so the driver's
    value hash pins the algebraic-merge property (sums of sums, sums of
    counts) every round. This is THE 100 TB pipeline pattern — a daily
    drop must cost O(|delta| + |dimension|), not O(|corpus|) — and it
    is exactly why the engine's aggregate surface sticks to mergeable
    forms (sums/counts/min/max/HLL/KLL; see ``agg_hll_merge_rollup``
    for the sketch analog).

    Scale shape: in production the base partials would be a stored
    dimension-sized table; here both sides derive from one scan (the
    split is expression-level, so Spark reads orders once per subtree
    and AQE reuses the exchange); every post-scan frame is
    |priorities|-bounded."""
    from datamodel_clinicaldata_spark.functions.sampling import knuth_mod

    o = read_table(spark, sf_dir, "orders")
    tagged = o.select(
        F.col("o_orderpriority").alias("pri"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        (knuth_mod("o_orderkey", 10) == 0).alias("is_delta"),
    )

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("pri").agg(
            F.sum("cents").cast("long").alias("rev"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )

    merged = (
        partial(tagged.filter(~F.col("is_delta")))
        .unionAll(partial(tagged.filter(F.col("is_delta"))))
        .groupBy("pri")
        .agg(
            F.sum("rev").cast("long").alias("rev_cents"),
            F.sum("n").cast("long").alias("n_orders"),
        )
    )
    full_r = tagged.groupBy("pri").agg(
        F.sum("cents").cast("long").alias("rev_cents_f"),
        F.count(F.lit(1)).cast("long").alias("n_orders_f"),
    )
    return merged.join(full_r, "pri").select(
        F.col("pri").alias("priority"),
        "rev_cents",
        "n_orders",
        (
            (F.col("rev_cents") == F.col("rev_cents_f"))
            & (F.col("n_orders") == F.col("n_orders_f"))
        ).alias("matches_full"),
    )
