"""Vector math over ``array<float>`` embedding columns — pure built-in
higher-order functions (``F.zip_with`` / ``F.aggregate``), JVM-side inside
whole-stage codegen. No UDFs: at 100 TB a Python UDF here would dominate
the query; these expressions vectorize like any other Catalyst projection.

Cross-engine note: embeddings are cast to double BEFORE any arithmetic so
Spark and the DuckDB oracle accumulate in the same precision; results that
feed comparisons are rounded at the call site.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def round_fixed(x: Column) -> Column:
    """Engine-independent half-up rounding to 6 decimals: ⌊x·10⁶ + ½⌋ / 10⁶.

    ``F.round`` is NOT engine-independent even on bit-identical input —
    Spark rounds through BigDecimal.valueOf's shortest decimal string
    (HALF_UP on the rendering) while DuckDB rounds the raw binary double,
    so a value whose shortest repr sits exactly on a half boundary flips
    between engines. floor of a bit-identical IEEE double is the same
    everywhere; use this for any rounded value that feeds a PREDICATE or
    ORDER/rank key in an oracle-paired query (oracle twin:
    ``floor(x * 1e6 + 0.5) / 1e6``). Input magnitude must keep
    x·10⁶ inside long range (cosines/norms: trivially yes)."""
    p = F.lit(1e6)
    return F.floor(x * p + F.lit(0.5)) / p


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (same accumulation order as DuckDB's
    list_inner_product)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """cos(a,b) = dot / sqrt(dot(a,a) * dot(b,b)) — the sqrt-of-product
    form matches DuckDB's list_cosine_similarity expression shape."""
    da, db = as_double(a), as_double(b)
    return dot(da, db) / F.sqrt(dot(da, da) * dot(db, db))


def sign_bits(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: one sign bit per plane, packed into
    a long. ``planes`` is a small driver-side constant (k ≤ 32 plates), so
    the expression is a literal-folded projection — no shuffle, no UDF."""
    bits = None
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bit = F.when(dot(as_double(vec), plane) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        bits = bit if bits is None else bits + bit
    return bits.cast("long")


def sign_bits_expr(
    vec_col: str, planes: list[list[float]], pre_cast: bool = False
) -> Column:
    """``sign_bits`` built as ONE parsed SQL expression per call instead
    of per-literal Column objects. Identical arithmetic (same double
    literals via ``repr`` round-trip, same sequential zip_with/aggregate
    fold, same CASE), so buckets are bit-identical to ``sign_bits`` — but
    DataFrame CONSTRUCTION drops from thousands of py4j gateway calls to
    one string parse. Measured on the 80-plane×64-dim prod LSH bucketing:
    9.4 s of Python-side expression assembly per query build → ~0.1 s;
    the benched query times include construction, so this is real query
    latency, not just driver comfort. ``vec_col`` is the raw (float)
    array column name; the double cast happens inside the expression —
    UNLESS ``pre_cast=True``, where ``vec_col`` already holds
    array<double> and the per-plane cast-transform (re-evaluated once
    per plane, interpreted — 80× per row on the prod LSH bucketing) is
    skipped. Same doubles either way, so buckets are bit-identical."""
    dv = vec_col if pre_cast else f"transform({vec_col}, x -> cast(x as double))"
    terms = []
    for i, p in enumerate(planes):
        arr = "array(" + ",".join(f"{x!r}D" for x in p) + ")"
        d = (
            f"aggregate(zip_with({dv}, {arr}, (x, y) -> x * y), "
            f"cast(0.0 as double), (acc, v) -> acc + v)"
        )
        terms.append(f"(CASE WHEN {d} >= 0 THEN {1 << i}L ELSE 0L END)")
    return F.expr("cast((" + " + ".join(terms) + ") as long)")


def quantize_int8(vec: Column) -> Column:
    """Symmetric per-vector int8 quantization: q_i = ⌊v_i · 127/max|v| + ½⌋
    ∈ [-127, 127]. The scale is per-vector (no global calibration pass —
    at 100 TB a global max would be a full extra scan), and the whole
    expression is built-in HOFs inside codegen. Emitted as ``array<long>``
    so downstream integer dot products cannot overflow (64·127² ≪ 2⁶³).

    Rounding is ``floor(x + 0.5)`` (half-toward-+∞), NOT ``round``: Spark
    rounds doubles through BigDecimal.valueOf (shortest decimal string,
    HALF_UP on the decimal rendering) while DuckDB rounds the raw binary
    double, so the two can legitimately disagree when x·scale lands near
    a .5 boundary. ``floor`` of a bit-identical IEEE double is
    engine-independent — the same fixed-point doctrine as
    operators/timeseries.py's gapfill grid."""
    dv = as_double(vec)
    max_abs = F.aggregate(dv, F.lit(0.0), lambda acc, v: F.greatest(acc, F.abs(v)))
    scale = F.lit(127.0) / F.greatest(max_abs, F.lit(1e-12))
    return F.transform(dv, lambda x: F.floor(x * scale + F.lit(0.5)).cast("long"))


def int_dot(a: Column, b: Column) -> Column:
    """Integer dot product over quantized vectors — exact (no float
    accumulation), so cross-engine comparison needs no rounding at all."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, v: acc + v
    )
