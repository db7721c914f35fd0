"""The benchmark's workloads: input tables, op list and per-pass op order.

A workload is a fixed list of ops drawn once from the seed. Every pass runs
each op of the list once, in an order drawn from the seed and the pass
number, so passes do equal work. Nothing here touches Spark.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

GENDERS = ("all", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
# Same values as operators.windows.COHORT_CHOICES (pinned by a test), kept
# here so op lists can be drawn without importing the engine.
COHORT_CHOICES = ("week", "month", "ClinicID")
AGE_MIN, AGE_MAX = 15, 74
CLINICS = 25

# Small oracle-backed queries from the nine queries_* modules besides
# queries_clinical, whose cohort query is the cohort workload. Named here,
# not taken from registry order, so registering a query cannot change the
# workload. dedup_cluster_components_star runs its fixpoint rounds as eager
# jobs before the DataFrame is returned.
FIXED_COST_QUERIES = (
    "jsonl_roundtrip_documents",  # queries_csv
    "dedup_exact",  # queries_dedup
    "dedup_cluster_components_star",
    "multimodal_ingest",  # queries_multimodal
    "distinct_rows",  # queries_relational
    "window_lead_diff",
    "embedding_norm_stats",  # queries_similarity
    "dedup_idempotency_window",  # queries_streaming
    "text_token_stats",  # queries_text
    "diag_order_total_consistency",  # queries_tpch
    "sample_systematic",  # queries_trainingdata
)


@dataclass(frozen=True)
class CohortParams:
    cohort: str
    gender: str
    min_age: int
    max_age: int
    clinic_id: int | None

    def oracle_where(self) -> str:
        """Extra WHERE terms for ``queries_clinical._flagship_oracle``."""
        w = f" AND Age BETWEEN {self.min_age} AND {self.max_age}"
        if self.gender != "all":
            w += f" AND Gender = '{self.gender}'"
        if self.clinic_id is not None:
            w += f" AND ClinicID = {self.clinic_id}"
        return w


@dataclass(frozen=True)
class Op:
    """``kind`` is ``query`` (build, plan, run to a noop sink) or
    ``materialize`` (build, plan, write partitioned parquet)."""

    kind: str
    name: str
    cohort: CohortParams | None = None


@dataclass(frozen=True)
class Workload:
    """``min_passes`` timed passes run even when ``--seconds`` is shorter."""

    name: str
    data: str
    min_passes: int

    @property
    def data_dir(self) -> str:
        return os.path.join(DATA, self.data)


WORKLOADS = {
    w.name: w
    for w in (Workload("cohort", "sf0.01", 2), Workload("fixed_cost", "sf0.001", 2))
}

COHORT_QUERIES = 3
COHORT_MATERIALIZE = 1


def draw_cohort(rng: random.Random, cohort: str, materialize: bool) -> CohortParams:
    """One parameterized call. The cohort column is given, so every op list
    holds the same mix of window shapes; a materialize op keeps every clinic
    so its write covers all partitions."""
    lo = rng.randint(AGE_MIN, AGE_MAX - 10)
    hi = rng.randint(lo + 10, AGE_MAX)
    gender = rng.choice(GENDERS)
    clinic = None if materialize else rng.choice([None, *range(CLINICS)])
    return CohortParams(cohort, gender, lo, hi, clinic)


def op_list(workload: str, seed: int) -> list[Op]:
    """The workload's ops, drawn once from the seed."""
    if workload == "fixed_cost":
        return [Op("query", n) for n in FIXED_COST_QUERIES]
    if workload == "cohort":
        rng = random.Random(f"cohort/{seed}")
        ops = []
        for i in range(COHORT_MATERIALIZE + COHORT_QUERIES):
            materialize = i < COHORT_MATERIALIZE
            params = draw_cohort(rng, COHORT_CHOICES[i % len(COHORT_CHOICES)], materialize)
            ops.append(Op("materialize" if materialize else "query", f"cohort{i}", params))
        return ops
    raise ValueError(f"unknown workload {workload!r}; choose from {sorted(WORKLOADS)}")


def pass_order(ops: list[Op], seed: int, pass_no: int) -> list[Op]:
    """The ops of one pass, in an order drawn from the seed and pass number."""
    out = list(ops)
    random.Random(f"order/{seed}/{pass_no}").shuffle(out)
    return out
