"""An exact fold for per-key array recurrences past the one-row bound
(VERDICT r7 #2).

The exact integer recurrences (``timeseries_ewma_fold``,
``timeseries_holt_smoothing``, ``events_window_funnel``) materialize each
key's time-ordered series as ONE array row before the ``F.aggregate``
fold — the exact one-pass shape for a truncating recurrence, whose
per-step truncation blocks the affine segment-composition a PARALLEL
chunked two-level fold would need. The measured bound
(tools/scale_probe.py ``probe_hot_key_fold``): a 10⁷-point single-key
series folds in ~97 s / ~400 MB as one task, linear in points,
closed-form-exact; 4×10⁷ OOM'd the task outright (r12 200M-ladder run
2). Past the bound, :func:`segmented_fold` (r13) is still EXACT: the
ceiling is about materializing the series as one row, not about the fold
itself, so the series is cut into bounded segment arrays and the
accumulator is THREADED through them sequentially (⌈len/S⌉ rounds;
parallel across keys, sequential across one key's segments — the
truncation constraint applied honestly). Never truncate a series
instead: a partial series folds to a WRONG state.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def segmented_fold(
    df: DataFrame,
    key_cols: Sequence[str],
    payload,
    init,
    step,
    max_segment_points: int = 5_000_000,
) -> DataFrame:
    """EXACT per-key ordered fold for series past the single-array bound.

    The monolithic shape (collect_list → array_sort → ``F.aggregate``)
    is the only exact ONE-PASS form for a truncating recurrence, but it
    materializes each key's series as a single array value — measured
    ceiling ~2×10⁷ points on the default 48 GiB local JVM; a 40M-point
    series OOM'd the task outright (r12 200M-ladder run 2). Cross-
    segment COMPOSITION is impossible (per-step truncation is
    nonlinear — see module docstring), but the ceiling is about
    MATERIALIZATION, not composition: this variant applies the identical
    step sequence in the identical order while bounding memory.

    Shape: rank rows within key (a window ``row_number`` — the sort is
    spill-friendly, unlike an in-memory array buffer), cut each series
    into contiguous segments of ``max_segment_points``, build each
    segment's bounded array row, then THREAD the accumulator through
    segments in order: round s folds every key's s-th segment starting
    from that key's round-(s−1) accumulator (``F.aggregate`` with a
    per-row initial value). Rounds are sequential by design; the
    parallelism is across keys (different keys' segments fold
    concurrently) and the round count is ⌈max_len/S⌉ — 8 for a
    40M-point series at the default. Lineage is pinned per round like
    every iterative fixpoint here (``truncate_lineage``).

    ``payload`` — struct Column whose leading field(s) define the time
    order (same contract as the monolithic ``array_sort(collect_list)``
    shape); ``init`` — initial accumulator Column; ``step(acc, p)`` —
    the recurrence. Returns one row per key: (keys…, ``acc``).

    Cost note vs the monolithic fold: one extra shuffle (the rank
    window) plus one small (key, acc) join per round — the price of not
    holding the series as one row. Use the monolithic fold below the
    single-array bound; this is the ≥2×10⁷-points path."""
    from pyspark.sql import Window

    from datamodel_clinicaldata_spark.operators.graph import truncate_lineage

    keys = list(key_cols)
    w = Window.partitionBy(*keys).orderBy(F.col("__p").asc())
    seg = (
        df.select(*keys, payload.alias("__p"))
        .withColumn("__rn", F.row_number().over(w) - F.lit(1))
        .withColumn(
            "__seg", (F.col("__rn") / F.lit(max_segment_points)).cast("long")
        )
    )
    per_seg = seg.groupBy(*keys, "__seg").agg(
        F.array_sort(F.collect_list("__p")).alias("__ps")
    )
    # One pass to learn the round count; the per-segment frame feeds
    # every round, so pin it once (narrow rows: keys + one bounded array
    # per segment).
    per_seg = truncate_lineage(per_seg, eager=False)
    n_segs = per_seg.agg(F.max("__seg")).collect()[0][0]
    if n_segs is None:
        return df.select(*keys).limit(0).withColumn("acc", init)
    acc_df = None
    for s in range(int(n_segs) + 1):
        seg_s = per_seg.filter(F.col("__seg") == s)
        if acc_df is None:
            folded = seg_s.select(
                *keys, F.aggregate("__ps", init, step).alias("acc")
            )
        else:
            # Keys with an s-th segment continue their fold from the
            # round-(s−1) accumulator (rank-contiguity guarantees the
            # accumulator exists); keys already exhausted carry forward.
            cont = seg_s.join(acc_df, keys, "inner").select(
                *keys,
                F.aggregate("__ps", F.col("acc"), step).alias("acc"),
            )
            done = acc_df.join(seg_s.select(*keys), keys, "left_anti")
            folded = cont.unionByName(done)
        acc_df = truncate_lineage(folded, eager=False)
    return acc_df
