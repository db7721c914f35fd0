"""Local mirror of the driver's t2 correctness gate.

Runs every registered query on Spark and its ``ORACLE_SQL`` twin on
DuckDB over the same parquet, then compares row count, schema (column
names), and an order-insensitive value comparison. Run while iterating so
mismatches never reach the driver:

    python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive canonical form: columns sorted by name, floats
    rounded, timestamps stringified, rows sorted.

    Raw list/array-typed columns are REJECTED, matching the driver's
    stricter canonicalizer (its pandas sort factorizes object columns and
    dies with ``TypeError: unhashable type: 'list'``). Stringifying here
    would make local green over-promise driver green — the r3
    ``nested_collect_sorted`` failure was exactly this divergence.
    Queries that emit collections must ``array_join`` them to strings."""
    out = df.copy()
    out = out[sorted(out.columns)]
    for c in out.columns:
        s = out[c]
        if s.dtype == object and s.map(
            lambda v: isinstance(v, (list, tuple)) or hasattr(v, "__array__")
        ).any():
            raise TypeError(
                f"column {c!r} holds raw list/array values — the driver's "
                "canonicalizer cannot hash these; array_join to a string"
            )
        if pd.api.types.is_datetime64_any_dtype(s):
            out[c] = s.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(s):
            out[c] = s.round(6)
        elif s.dtype == object:
            out[c] = s.astype(str)
    out = out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)
    return out


def compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    """Every way the Spark result differs from its oracle under the
    correctness gate: row count, schema, int/float dtype splits, values
    and signed zeros. Empty when they match."""
    try:
        s, d = normalize(spark_pdf), normalize(oracle_pdf)
    except TypeError as e:
        return [f"canonicalize: {e}"]
    status = []
    if len(s) != len(d):
        status.append(f"rowcount {len(s)} vs {len(d)}")
    if list(s.columns) != list(d.columns):
        status.append(f"schema {list(s.columns)} vs {list(d.columns)}")
    if status:
        return status
    # Hash parity: the gate hashes canonical strings, so an
    # int64 `205138` vs float64 `205138.0` column IS a mismatch even
    # when the values agree to 1e-6 (r4's similarity_quantized_topk
    # survived locally for exactly this reason). Fail int-vs-float
    # dtype splits outright; keep rtol only for genuinely-float pairs.
    for c in s.columns:
        si = pd.api.types.is_integer_dtype(s[c])
        di = pd.api.types.is_integer_dtype(d[c])
        sf_ = pd.api.types.is_float_dtype(s[c])
        df_ = pd.api.types.is_float_dtype(d[c])
        if (si and df_) or (sf_ and di):
            status.append(
                f"dtype split on {c!r}: spark {s[c].dtype} vs "
                f"oracle {d[c].dtype} — driver hash would differ"
            )
    if status:
        return status
    try:
        pd.testing.assert_frame_equal(
            s, d, check_dtype=False, check_exact=False, rtol=1e-6, atol=1e-6
        )
    except AssertionError as e:
        return [f"values: {str(e)[:400]}"]
    # Signed zeros: assert_frame_equal passes -0.0 == 0.0, a
    # string-hash canonicalizer does not ("-0.0" != "0.0").
    for c in s.columns:
        if pd.api.types.is_float_dtype(s[c]) and pd.api.types.is_float_dtype(d[c]):
            sv, dv = s[c].to_numpy(), d[c].to_numpy()
            both_zero = (sv == 0) & (dv == 0)
            if (
                both_zero.any()
                and (np.signbit(sv[both_zero]) != np.signbit(dv[both_zero])).any()
            ):
                status.append(
                    f"signed-zero split on {c!r}: one engine emits "
                    "-0.0 where the other emits 0.0"
                )
    return status


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from datamodel_clinicaldata_spark.registry import ORACLE_SQL, QUERIES
    from datamodel_clinicaldata_spark.session import get_spark
    from datamodel_clinicaldata_spark.schemas import TESTDATA_TABLES

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures = []
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        try:
            ddf = con.sql(ORACLE_SQL[name]).df()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        status = compare(sdf, ddf)
        if status:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(status)}")
        else:
            print(f"OK    {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")

    # Count only the queries that actually ran: with a name filter a
    # 4-query spot-check must not claim full-registry coverage in logs
    # (VERDICT r7 #8).
    n_run = len([n for n in QUERIES if not only or n in only])
    scope = "" if not only else f" (filtered from {len(QUERIES)} registered)"
    print(f"\n{n_run - len(failures)}/{n_run} OK{scope}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
