"""Run-to-run determinism sweep: every registered query executed TWICE in
the same session, canonical forms compared EXACTLY (string-level, the
driver's hash discipline — no rtol).

Why this exists beside oracle_check: the r5 `agg_pareto_abc` red passed
the local oracle gate and still flaked on the driver, because the hazard
was COMBINE-ORDER nondeterminism (partial-agg order varies run to run),
not a fixed cross-engine difference. A query whose two same-session runs
hash differently WILL eventually flake the driver gate no matter how
green the oracle comparison looks.

    python tools/determinism_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from datamodel_clinicaldata_spark.registry import QUERIES
    from datamodel_clinicaldata_spark.session import get_spark
    from tools.oracle_check import normalize

    spark = get_spark("determinism-check")
    failures = []
    t_start = time.time()
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            a = normalize(fn(spark, sf_dir).toPandas())
            b = normalize(fn(spark, sf_dir).toPandas())
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: error: {e}")
            continue
        # exact string-level equality of the canonical frames — the same
        # strictness the driver's value hash applies
        same = a.shape == b.shape and bool(
            a.astype(str).eq(b.astype(str)).all().all()
        )
        if same:
            print(f"OK    {name}: stable ({time.time()-t0:.1f}s)")
        else:
            failures.append(name)
            print(f"FAIL  {name}: two same-session runs differ")
    n = len([q for q in QUERIES if not only or q in only])
    print(
        f"\n{n - len(failures)}/{n} run-stable ({time.time()-t_start:.0f}s)"
        + (f"; UNSTABLE: {failures}" if failures else "")
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
