"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over ``datamodel_clinicaldata_spark.registry``: the engine's
query inventory (one entry per implemented operator from SURVEY.md §2 plus
the extension surface) and the matching DuckDB oracle SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from datamodel_clinicaldata_spark.pipeline import flagship_query

    return flagship_query(spark, "/root/testdata/sf0.001")


def _coverage_order(names: list[str]) -> list[str]:
    """Order the inventory for the driver's first-N sample: never-green
    first, then green-but-modified-since-green, then fresh greens.

    This file is the driver adapter, so the driver's sampling policy (it
    checks only the first N entries per round) is handled here, not in
    the library registry. Three tiers, each family-interleaved so any
    prefix still spans all query families:

    1. names without a fully-green row (rows/schema/hash all matching)
       in any past round's ``CORRECTNESS_r*.json``;
    2. names whose green row predates a code change — detected by
       digesting the query's defining module (plus first-level
       intra-package imports) at the git rev the driver evaluated vs the
       working tree (``tools/green_digests.py``; verdict r4 #4: a green
       earned by old code is not evidence about the current code);
    3. still-green, unmodified names.

    Over successive rounds this rotates every query into a CURRENT green.
    Computed lazily per call, so late registrations are included; any
    failure of the staleness probe degrades to the r4 two-tier order.
    """
    import os
    import sys

    from datamodel_clinicaldata_spark.registry import (
        QUERIES,
        interleaved_by_family,
    )

    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, os.path.join(here, "tools"))
    try:
        from green_digests import last_green_rounds, stale_greens

        greens = set(last_green_rounds())
        stale = stale_greens(dict(QUERIES))
    except Exception:  # noqa: BLE001 — ordering must never break the driver
        greens, stale = set(), set()

    never = [n for n in names if n not in greens]
    modified = [n for n in names if n in greens and n in stale]
    fresh = [n for n in names if n in greens and n not in stale]
    # Verdict r13 #6: the three r13-rewritten paths the rotation never
    # re-sampled go FIRST within the stale tier, so their driver-verified
    # green lands this round even if later edits grow the tier past the
    # sample size.
    priority = [
        n
        for n in (
            "feature_quantile_normalization",
            "eval_knn_label_accuracy",
            "similarity_kmeans_lloyd_step",
        )
        if n in modified
    ]
    modified = priority + [
        n for n in interleaved_by_family(modified) if n not in priority
    ]
    return (
        interleaved_by_family(never)
        + modified
        + interleaved_by_family(fresh)
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from datamodel_clinicaldata_spark.registry import QUERIES

    return {n: QUERIES[n] for n in _coverage_order(list(QUERIES))}


def oracle_sql() -> dict[str, str]:
    from datamodel_clinicaldata_spark.registry import ORACLE_SQL

    return dict(ORACLE_SQL)
