"""segmented_fold (operators/folds.py): the exact per-key ordered fold
for series past the single-array bound."""

from pyspark.sql import functions as F


def _idiv10(x):
    m = ((x % 10) + 10) % 10
    return ((x - m).cast("decimal(38,0)") / F.lit(10)).cast("long")


def _ewma_step(acc, p):
    """The truncating integer EWMA — the recurrence whose per-step
    truncation makes parallel segment composition impossible."""
    return F.when(acc.isNull(), p["v"]).otherwise(_idiv10(8 * acc + 2 * p["v"]))


def test_segmented_fold_matches_monolithic(spark):
    """segmented_fold applies the IDENTICAL step sequence as the
    monolithic collect_list → array_sort → aggregate shape — exact
    equality per key, across segment boundaries, at every segment size
    (including S larger than any series = the degenerate 1-round case)."""
    from datamodel_clinicaldata_spark.operators.folds import segmented_fold

    rows = spark.range(3 * 997).select(
        (F.col("id") % 3).alias("k"),
        F.struct(
            (F.col("id") / 3).cast("long").alias("t"),
            ((F.col("id") * 2654435761) % 1_000_003).cast("long").alias("v"),
        ).alias("p"),
    )
    mono = {
        r["k"]: r["acc"]
        for r in rows.groupBy("k")
        .agg(F.array_sort(F.collect_list("p")).alias("ps"))
        .select(
            "k",
            F.aggregate(
                "ps", F.lit(None).cast("long"), _ewma_step
            ).alias("acc"),
        )
        .collect()
    }
    payload = F.struct(F.col("p")["t"].alias("t"), F.col("p")["v"].alias("v"))
    for s in (137, 500, 10_000):  # multi-segment, uneven tail, 1-round
        segd = {
            r["k"]: r["acc"]
            for r in segmented_fold(
                rows,
                ["k"],
                payload,
                F.lit(None).cast("long"),
                _ewma_step,
                max_segment_points=s,
            ).collect()
        }
        assert segd == mono, f"segment size {s} diverged"


def test_segmented_fold_empty_input(spark):
    from datamodel_clinicaldata_spark.operators.folds import segmented_fold

    empty = spark.range(0).select(
        F.col("id").alias("k"),
        F.struct(F.col("id").alias("t"), F.col("id").alias("v")).alias("p"),
    )
    out = segmented_fold(
        empty,
        ["k"],
        F.col("p"),
        F.lit(None).cast("long"),
        _ewma_step,
        max_segment_points=10,
    )
    assert out.count() == 0 and out.columns == ["k", "acc"]
