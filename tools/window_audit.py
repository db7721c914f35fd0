"""Sweep every registered query's physical plan for unpartitioned
windows (verdict r5 #2): at 100 TB an unpartitioned WindowExec funnels
its whole input through one task.

Some unpartitioned windows are BOUNDED by construction (rank over ≤k
TakeOrdered survivors, the ≤ shuffle-partitions offsets frame inside
``ordered_prefix``, calendar-bounded day rollups) — those are fine and
are listed with justifications in BOUNDED_OK. Anything else is a
violation.

    python tools/window_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

# name -> (max allowed unpartitioned windows, why that's bounded)
BOUNDED_OK = {
    # topk_ranked rank-over-limit-survivor windows are now auto-skipped
    # structurally (audit sees the TakeOrdered/WindowGroupLimit child);
    # entries here are only for bounded shapes the plan cannot reveal.
    # ordered_prefix: exclusive-prefix window over the per-partition stats
    # frame (≤ spark.sql.shuffle.partitions rows)
    # r13: most ordered_prefix callers now pass count_small=2M (the
    # pagerank-style adaptive escape) — at audited SFs the plan shows the
    # COUNTED-SMALL single window, bounded by the measured ≤2M row count,
    # not a guess; above the threshold the two-phase offsets shape
    # returns (reason strings say which form the audit sees).
    "agg_pareto_abc": (1, "counted-small bounded window (≤2M measured rows; two-phase offsets above)"),
    "agg_gini_coefficient": (1, "counted-small bounded window (≤2M measured rows)"),
    "agg_weighted_quantiles": (2, "offsets windows over ≤n_partitions stats rows (AQE renders two; count_small A/B LOST here — stays two-phase)"),
    "diag_ks_two_sample": (2, "counted-small bounded window (≤2M measured rows)"),
    "diag_mannwhitney_u": (2, "counted-small bounded window (≤2M measured rows)"),
    "eval_rank_correlation_spearman": (2, "two counted-small bounded windows (≤2M measured rows each)"),
    "events_max_concurrency": (2, "counted-small bounded window (≤2M measured endpoint rows)"),
    "events_rfm_scores": (3, "three chained counted-small bounded rank windows (≤2M measured customers each)"),
    "text_zipf_fit": (1, "offsets window over ≤n_partitions stats rows (count_small A/B was a wash — stays two-phase)"),
    "diag_join_key_skew": (1, "counted-small bounded window (≤2M measured rows)"),
    "funnel_time_to_convert": (1, "counted-small bounded window (≤2M measured rows)"),
    "graph_pagerank_dup_hubs": (1, "counted-small bounded window (≤2M measured nodes; pagerank's original count_small)"),
    "diag_late_arrivals": (1, "counted-small bounded window (≤2M measured rows)"),
    "agg_skyline_pareto": (1, "counted-small bounded window (≤2M measured rows)"),
    # calendar-bounded post-agg frames (≤ |days| rows regardless of SF)
    "events_new_vs_returning": (1, "cumsum over ≤|calendar days| rows"),
    "diag_chisq_independence": (1, "margins over ≤|types×weekdays| contingency cells"),
    "timeseries_rolling_corr": (1, "rolling moments over ≤|calendar days| rows"),
    "window_rolling_regression": (1, "rolling moments over ≤|calendar days| rows"),
    "events_burst_detection": (1, "rolling moments over ≤|calendar days| rows"),
    "timeseries_rolling_median": (1, "15-value collect frame over ≤|calendar days| rows"),
    "timeseries_anomaly_mad": (6, "two order-statistic windows (rank+count) over the ≤|calendar days| daily frame, re-rendered across the median/MAD/output branches"),
    "events_markov_3step": (2, "row-normalize/total windows over ≤|states|² edge rows"),
    "mixture_token_budget_allocation": (2, "remainder-rank + leftover windows over the ≤|sources| apportionment frame"),
    "orders_yoy_growth": (3, "lag-12 windows over the ≤|calendar months| frame (rendered per output branch)"),
    "diag_label_imbalance": (1, "share/total window over the ≤|labels| dimension frame"),
    "events_survival_life_table": (1, "at-risk prefix window over the ≤|study-window days| life-table frame"),
    "feature_quantile_normalization": (4, "counted-small bounded window (≤2M measured rows; the rank-mean regroup window is rk-partitioned)"),
    # strict-W8 replication: the reference's diff(-1) runs over the WHOLE
    # physically-sorted frame, so exact parity REQUIRES one unpartitioned
    # lead (operators/windows.py:w_global) — parity row only, never the
    # scale default (clinical_cohort_week uses the treatment-scoped lead)
    "clinical_cohort_week_strict": (1, "INTENTIONALLY GLOBAL by construction: replays the reference's whole-frame diff(-1) (pandas_DataModel.py:139-142) under an oracle, so the single-partition lead IS the semantics being proven — see the clinical_cohort_week_strict entry of queries_clinical._STANDIN_VARIANTS; the scale default is clinical_cohort_week's treatment-scoped lead"),
}

# Query construction itself runs Spark jobs (adaptive/iterative operators
# decide their shape from data, eager checkpoints) — their window shapes
# are pinned by their own operator tests; planning them here would re-run
# the jobs.
EXECUTES_AT_BUILD = {
    "dedup_cluster_components",
    "dedup_cluster_components_star",
    "graph_pagerank_dup_hubs",
    "graph_triangle_count",
    "dedup_algorithms_agree",
    "graph_label_propagation",
    "dedup_survivor_by_quality",
}


def sweep(spark, sf_dir: str, names=None) -> dict[str, tuple[int, int]]:
    """Return {name: (unpartitioned_found, allowed)} for every violation."""
    from datamodel_clinicaldata_spark.plans.audit import audit
    from datamodel_clinicaldata_spark.registry import QUERIES

    bad: dict[str, tuple[int, int]] = {}
    for name, fn in sorted(QUERIES.items()):
        if names and name not in names:
            continue
        if name in EXECUTES_AT_BUILD:
            continue
        allowed = BOUNDED_OK.get(name, (0, ""))[0]
        try:
            n = audit(fn(spark, sf_dir)).unpartitioned_windows
        except Exception as exc:  # pragma: no cover - report, don't mask
            print(f"ERROR {name}: {exc}")
            bad[name] = (-1, allowed)
            continue
        if n > allowed:
            bad[name] = (n, allowed)
    return bad


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from datamodel_clinicaldata_spark.session import get_spark

    spark = get_spark("window-audit")
    t0 = time.time()
    bad = sweep(spark, sf_dir)
    dt = time.time() - t0
    if bad:
        for name, (n, allowed) in sorted(bad.items()):
            print(f"VIOLATION {name}: {n} unpartitioned windows (allowed {allowed})")
        print(f"{len(bad)} violations ({dt:.0f}s)")
        return 1
    print(f"window audit clean ({dt:.0f}s)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
