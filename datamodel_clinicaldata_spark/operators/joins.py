"""Extended join shapes beyond the reference's two left equi-joins.

The reference only has left equi-joins (SURVEY.md §2.2); a usable analytics
engine needs semi/anti/range/as-of. All are expressed as compositions of
DataFrame ops so Catalyst keeps control of the physical strategy.

Scale notes:
- ``asof_join``/``range_join`` carry an equality key, so they execute as a
  hash/sort-merge equi-join with the temporal predicate as a post-join
  filter — NOT a broadcast-nested-loop. At 100 TB the equality key is what
  keeps this tractable; a keyless as-of would need range partitioning.
- The as-of dedup uses ``row_number() = 1`` per left row, which AQE runs as
  a window over the join's existing partitioning — one shuffle total when
  the join key is reused.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def salted_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    salt: int = 8,
) -> DataFrame:
    """Skew-busting inner equi-join: one hot key otherwise lands every matching
    row in a single reducer. The left (large, skewed) side gets a random
    salt in [0, salt); the right side is replicated ``salt`` times with
    every salt value; the join key becomes (key, salt) so a hot key's rows
    spread over ``salt`` reducers.

    AQE's skew-join splitting (enabled in ``session.get_spark``) handles
    most skew at runtime by splitting oversized partitions; explicit
    salting remains the tool when one KEY (not one partition) is hot —
    AQE cannot split a single key's hash bucket across reducers for a
    sort-merge join of two large tables, salting can.

    The salt uses ``pmod(xxhash64(all left columns...), salt)`` via a
    deterministic row hash rather than ``rand()`` so results are
    reproducible; replication uses ``explode(sequence)`` — no Python.
    """
    from pyspark.sql import functions as _F

    lsalted = left.withColumn(
        "__salt", _F.pmod(_F.xxhash64(*[_F.col(c) for c in left.columns]), _F.lit(salt))
    )
    rrep = right.withColumn(
        "__salt", _F.explode(_F.sequence(_F.lit(0), _F.lit(salt - 1)))
    )
    out = lsalted.join(
        rrep,
        (lsalted[left_key] == rrep[right_key]) & (lsalted["__salt"] == rrep["__salt"]),
    )
    return out.drop(lsalted["__salt"]).drop(rrep["__salt"])


def semi_join(left: DataFrame, right: DataFrame, on: Column) -> DataFrame:
    """EXISTS: left rows with ≥1 match; left columns only, no fan-out."""
    return left.join(right, on, "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: Column) -> DataFrame:
    """NOT EXISTS: left rows with no match."""
    return left.join(right, on, "left_anti")


def range_join(
    left: DataFrame,
    right: DataFrame,
    equi: Column,
    lower: Column,
    upper: Column,
) -> DataFrame:
    """Equi-key inner range join: equality on ``equi`` plus
    ``lower``/``upper`` band predicates. Keeping the equality conjunct
    first lets Catalyst plan a hash join with the band as a filter."""
    return left.join(right, equi & lower & upper, "inner")


def _ts_num(ts_type):
    """Numeric view of a time domain for distance/tolerance arithmetic:
    microseconds for timestamps, day ordinals for dates (DateType can't
    cast to double; the ordinal is exact), the raw double otherwise."""
    from pyspark.sql import types as T

    if isinstance(ts_type, (T.TimestampType, T.TimestampNTZType)):
        return lambda c: F.unix_micros(c.cast("timestamp"))
    if isinstance(ts_type, T.DateType):
        return lambda c: F.unix_date(c)
    return lambda c: c.cast("double")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    direction: str = "backward",
    how: str = "inner",
    tolerance: int | None = None,
) -> DataFrame:
    """As-of join: for each left row, the single most recent right row with
    ``right_ts <= left_ts`` (backward; forward = earliest ``>=``),
    inclusive. Ties on ``right_ts`` break deterministically toward the
    LARGEST ``right_cols[0]``. ``how='inner'`` drops unmatched left rows;
    ``'left'`` keeps them with nulls.

    ``tolerance`` (pandas ``merge_asof`` semantics): a match farther than
    this from the left timestamp is treated as NO match. Units follow the
    numeric time domain — microseconds for timestamps, days for dates,
    the raw value otherwise. Applied by nulling the PICKED row, which is
    provably identical to pre-filtering the candidate set: the as-of pick
    is already the closest candidate on its side, so if it exceeds the
    tolerance every other candidate does too.

    Implementation — union + ordered window (the merge-join shape), NOT
    equi-join + temporal filter + row_number dedup: the join form
    materializes every (left row × all earlier right rows) pair before
    discarding all but one — fan-out × |L| rows through two shuffles. The
    union form shuffles exactly |L| + |R| rows once on the key, sorts
    within partitions by (ts, side), and carries the latest right-row
    struct forward with ``last(..., ignoreNulls)`` — per-row O(1), no
    intermediate blow-up, the shape that survives 100 TB.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward|forward|nearest, got {direction!r}"
        )
    backward = direction == "backward"

    key_type = left.schema[left_key].dataType
    ts_type = left.schema[left_ts].dataType
    out_right = list(dict.fromkeys([*right_cols, right_ts]))
    rv = F.struct(
        *[
            (F.col(right_ts).cast(ts_type) if c == right_ts else F.col(c)).alias(c)
            for c in out_right
        ]
    )

    if direction == "nearest":
        return _asof_nearest(
            left, right, left_key, right_key, left_ts, right_ts,
            right_cols, how, key_type, ts_type, out_right, rv, tolerance,
        )

    rsel = right.select(
        F.col(right_key).cast(key_type).alias(left_key),
        F.col(right_ts).cast(ts_type).alias("__ats"),
        rv.alias("__rv"),
        # Backward: right rows sort BEFORE the left row at equal ts (<= is
        # inclusive). Forward: after.
        F.lit(0 if backward else 2).alias("__side"),
    )
    rv_type = rsel.schema["__rv"].dataType
    lsel = left.select(
        "*",
        F.col(left_ts).alias("__ats"),
        F.lit(None).cast(rv_type).alias("__rv"),
        F.lit(1).alias("__side"),
    )
    u = lsel.unionByName(rsel, allowMissingColumns=True)

    # Tie order among same-ts right rows: ascending on right_cols[0] so the
    # row the frame edge picks (the frame-end `last`) is the max — matching
    # the row_number() DESC convention.
    #
    # BOTH directions use a running `unboundedPreceding → currentRow` frame
    # with `last ignorenulls`: Spark maintains that frame incrementally
    # (O(n) per partition), whereas `currentRow → unboundedFollowing`
    # recomputes the aggregate per row (O(n²)). The forward direction gets
    # the same running frame by fully REVERSING the sort (desc ts, sides
    # and null placement flipped), which is value-identical to
    # `first ignorenulls` over the following frame in ascending order.
    if backward:
        w = Window.partitionBy(left_key).orderBy(
            F.col("__ats").asc_nulls_last(),
            F.col("__side").asc(),
            F.col("__rv")[right_cols[0]].asc_nulls_first(),
        )
    else:
        w = Window.partitionBy(left_key).orderBy(
            F.col("__ats").desc_nulls_first(),
            F.col("__side").desc(),
            F.col("__rv")[right_cols[0]].asc_nulls_first(),
        )
    w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pick = F.last("__rv", ignorenulls=True).over(w)

    matched = (
        u.withColumn("__pick", pick)
        .filter(F.col("__side") == 1)
        .drop("__ats", "__rv", "__side")
    )
    if tolerance is not None:
        num = _ts_num(ts_type)
        dt = num(F.col(left_ts).cast(ts_type)) - num(F.col("__pick")[right_ts])
        if not backward:
            dt = -dt
        matched = matched.withColumn(
            "__pick", F.when(dt <= F.lit(tolerance), F.col("__pick"))
        )
    if how == "inner":
        matched = matched.filter(F.col("__pick").isNotNull())
    out = matched.select(
        *[c for c in left.columns],
        *[F.col("__pick")[c].alias(c) for c in out_right],
    )
    return out


def _asof_nearest(
    left, right, left_key, right_key, left_ts, right_ts,
    right_cols, how, key_type, ts_type, out_right, rv, tolerance=None,
):
    """``direction='nearest'``: whichever of the backward/forward matches
    is closer in event time wins; an exact |Δt| tie goes to the BACKWARD
    (most-recent) row, matching the common market-data convention.

    One union, ONE shuffle on the key, two window picks (ascending and
    descending running frames — both incrementally maintained, O(n) per
    partition; the two opposite in-partition sorts are the whole extra
    cost over a single-direction as-of)."""
    rsel = right.select(
        F.col(right_key).cast(key_type).alias(left_key),
        F.col(right_ts).cast(ts_type).alias("__ats"),
        rv.alias("__rv"),
        F.lit(0).alias("__side"),
    )
    rv_type = rsel.schema["__rv"].dataType
    lsel = left.select(
        "*",
        F.col(left_ts).alias("__ats"),
        F.lit(None).cast(rv_type).alias("__rv"),
        F.lit(1).alias("__side"),
    )
    u = lsel.unionByName(rsel, allowMissingColumns=True)

    # Right rows sort before the left row at equal ts in BOTH traversals
    # (side 0 < 1 regardless of ts direction) — both bounds inclusive,
    # and the same-ts tie among right rows resolves to the max
    # right_cols[0] under `last` exactly like the single-direction paths.
    tie = F.col("__rv")[right_cols[0]].asc_nulls_first()
    w_back = (
        Window.partitionBy(left_key)
        .orderBy(F.col("__ats").asc_nulls_last(), F.col("__side").asc(), tie)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy(left_key)
        .orderBy(F.col("__ats").desc_nulls_first(), F.col("__side").asc(), tie)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        u.withColumn("__pb", F.last("__rv", ignorenulls=True).over(w_back))
        .withColumn("__pf", F.last("__rv", ignorenulls=True).over(w_fwd))
        .filter(F.col("__side") == 1)
    )

    num = _ts_num(ts_type)
    anchor = num(F.col(left_ts).cast(ts_type))
    back_dt = anchor - num(F.col("__pb")[right_ts])
    fwd_dt = num(F.col("__pf")[right_ts]) - anchor
    pb, pf = F.col("__pb"), F.col("__pf")
    if tolerance is not None:
        # out-of-tolerance sides drop out BEFORE the nearer-side choice,
        # so a too-far backward match can't shadow an in-range forward one
        pb = F.when(back_dt <= F.lit(tolerance), pb)
        pf = F.when(fwd_dt <= F.lit(tolerance), pf)
    pick = (
        F.when(pb.isNull(), pf)
        .when(pf.isNull(), pb)
        .when(fwd_dt < back_dt, pf)
        .otherwise(pb)
    )
    matched = matched.withColumn("__pick", pick).drop(
        "__ats", "__rv", "__side", "__pb", "__pf"
    )
    if how == "inner":
        matched = matched.filter(F.col("__pick").isNotNull())
    return matched.select(
        *[c for c in left.columns],
        *[F.col("__pick")[c].alias(c) for c in out_right],
    )


def binned_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bin_width_us: int = 86_400_000_000,
) -> DataFrame:
    """Interval-containment join WITHOUT an equality key — the case Spark
    plans as a nested-loop join (per-row scan of the whole interval side;
    a non-starter at scale). The standard fix is BINNING: each interval
    explodes into the fixed-width time bins it covers (``sequence`` —
    bounded by interval length ÷ bin width), each point computes its one
    bin, and the join becomes an EQUI-join on bin followed by the exact
    ``start ≤ t < end`` filter. Every matching (point, interval) pair
    appears exactly once — the point's bin is unique, so no dedup pass.

    All columns must already be integer microseconds (caller converts —
    keeps this operator type-agnostic). ``bin_width_us`` tunes the
    exploded-index size vs per-bin fan-in: pick ≈ the median interval
    length, the usual rule of thumb.

    Bounds: Spark's ``sequence`` caps elements at
    MAX_ROUNDED_ARRAY_LENGTH (~2^31-15) — intervals longer than
    ``bin_width_us × 2^31`` would fail the job, so pick a bin width ≥
    max_interval_length / 2^31 (for day-wide bins that is ~5.8M years;
    in practice any sane width clears it). Malformed intervals with
    ``end ≤ start`` are dropped BEFORE the explode: ``sequence(lo, hi)``
    with hi < lo generates a DESCENDING bin list — every such row would
    silently explode spurious bins (filtered later, so correct output,
    but unbounded wasted work on dirty data)."""
    # integer `div`, never float-divide-then-truncate: a point sitting
    # exactly on a bin boundary must land in the same bin from both sides
    w = bin_width_us
    intervals = intervals.filter(F.col(end_col) > F.col(start_col))
    iv = intervals.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.expr(f"CAST({start_col} AS BIGINT) div {w}"),
                F.expr(f"CAST({end_col} - 1 AS BIGINT) div {w}"),
            )
        ),
    )
    pt = points.withColumn("__bin", F.expr(f"CAST({point_col} AS BIGINT) div {w}"))
    return (
        pt.join(iv, "__bin")
        .filter(
            (F.col(point_col) >= F.col(start_col))
            & (F.col(point_col) < F.col(end_col))
        )
        .drop("__bin")
    )


def binned_overlap_join(
    left: DataFrame, right: DataFrame, key: str, bin_width_us: int = 86_400_000_000
) -> DataFrame:
    """Interval-OVERLAP join (``sa < eb AND sb < ea``) of the left
    intervals ``[sa, ea)`` with the right intervals ``[sb, eb)`` —
    the Allen-algebra sibling of ``binned_interval_join``'s containment.
    Same binning idea, one extra subtlety: overlapping intervals share
    MANY bins, so a plain bin equi-join would emit a pair once per
    shared bin. The classic fix makes each pair match EXACTLY once with
    no dedup pass: join on bin, then keep only the bin containing the
    OVERLAP START (``greatest(a.start, b.start) div w``) — a bin both
    intervals necessarily cover. Join remains an equi-join on
    (key, bin); cost is |bins_L| + |bins_R| postings, never |L|×|R|.

    All start/end columns must be integer microseconds, end exclusive;
    malformed (end ≤ start) rows are dropped before exploding (same
    rationale and sequence-size bound as ``binned_interval_join``)."""
    w = bin_width_us

    def explode_bins(df, s, e, side):
        return (
            df.filter(F.col(e) > F.col(s))
            .withColumn(
                f"__bin_{side}",
                F.explode(
                    F.sequence(
                        F.expr(f"CAST({s} AS BIGINT) div {w}"),
                        F.expr(f"CAST({e} - 1 AS BIGINT) div {w}"),
                    )
                ),
            )
        )

    lb = explode_bins(left, "sa", "ea", "l")
    rb = explode_bins(right, "sb", "eb", "r")
    joined = lb.join(
        rb,
        (lb[key] == rb[key]) & (lb["__bin_l"] == rb["__bin_r"]),
    )
    overlap_start = F.greatest(F.col("sa"), F.col("sb"))
    overlap_end = F.least(F.col("ea"), F.col("eb"))
    return (
        joined.filter(
            (F.col("sa") < F.col("eb"))
            & (F.col("sb") < F.col("ea"))
            & (F.col("__bin_l") == F.expr(f"CAST(greatest(sa, sb) AS BIGINT) div {w}"))
        )
        .drop("__bin_l", "__bin_r")
        .drop(rb[key])
        .withColumn("overlap_us", (overlap_end - overlap_start).cast("long"))
    )
