"""Count-min sketch built from relational primitives — engine-portable.

Spark ships sketch aggregates for cardinality (HLL), quantiles (KLL) and
set algebra (theta) but nothing for frequency estimation, so this builds
Cormode-Muthukrishnan count-min (J. Algorithms 2005) as a composition of
groupBy ops: ``d`` pairwise-independent hash rows × ``w`` buckets, one
counter per (row, bucket). The build is a single hash aggregation whose
output is bounded by d·w REGARDLESS of corpus size — partial aggregation
collapses each partition to ≤ d·w rows map-side, so the shuffle carries
kilobytes at any scale; point queries read min over d counters.

Everything is integer math on an engine-portable rolling hash
(``(acc·31 + ascii) mod p`` then per-row affine mixing), NOT xxhash64 /
DuckDB ``hash()`` — the two engines' native hashes differ, and the
oracle must replay buckets bit-for-bit. All intermediates stay under
2⁶³ (h < p ≈ 1e9, multipliers < 3.3e9 → products < 3.3e18).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_PRIME = 1_000_000_007
# Affine mixing constants per hash row: public 32-bit hash primes
# (Knuth multiplicative / xxHash prime family).
CMS_ROWS: list[tuple[int, int]] = [
    (2654435761, 2246822519),
    (3266489917, 668265263),
    (374761393, 2549297995),
    (2246822519, 374761393),
]
# Buckets per hash row of the sketch (``cms_build``/``cms_estimate``).
CMS_WIDTH = 256


def rolling_hash(col: Column) -> Column:
    """Portable string hash: fold ``(acc·31 + ascii(ch)) mod p`` over the
    characters. Same fold as DuckDB's
    ``list_reduce(list_prepend(0, list_transform(string_split(t, ''),
    c -> ascii(c))), ...)`` — integer math, bit-identical across engines."""
    return F.aggregate(
        F.transform(F.split(col, ""), lambda c: F.ascii(c).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: (acc * F.lit(31) + v) % F.lit(_PRIME),
    )


def cms_bucket(h: Column, row: int, width: int) -> Column:
    a, b = CMS_ROWS[row]
    return ((h * F.lit(a) + F.lit(b)) % F.lit(_PRIME)) % F.lit(width)


def cms_build(items: DataFrame, item_col: str) -> DataFrame:
    """Aggregate an item stream into CMS counters over the d =
    ``len(CMS_ROWS)`` hash rows: one row per (hash_row, bucket) with its
    count. Output size ≤ d·``CMS_WIDTH``."""
    h = rolling_hash(F.col(item_col))
    hashed = items.select(h.alias("__h"))
    buckets = hashed.select(
        F.posexplode(
            F.array(
                *[cms_bucket(F.col("__h"), j, CMS_WIDTH) for j in range(len(CMS_ROWS))]
            )
        ).alias("hash_row", "bucket")
    )
    return buckets.groupBy("hash_row", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("counter")
    )


def cms_estimate(sketch: DataFrame, keys: DataFrame, key_col: str) -> DataFrame:
    """Point-query the sketch for each key: min over the d counters the
    key hashes to (the classic CMS upper-bound estimate; counters the
    key never touched default to 0 only if a bucket row is absent, which
    cannot under-estimate). The sketch is ≤ d·w rows → broadcast join."""
    h = rolling_hash(F.col(key_col))
    kb = keys.withColumn("__h", h).select(
        key_col,
        F.posexplode(
            F.array(
                *[cms_bucket(F.col("__h"), j, CMS_WIDTH) for j in range(len(CMS_ROWS))]
            )
        ).alias("hash_row", "bucket"),
    )
    joined = kb.join(F.broadcast(sketch), ["hash_row", "bucket"], "left").select(
        key_col, F.coalesce("counter", F.lit(0).cast("long")).alias("counter")
    )
    return joined.groupBy(key_col).agg(F.min("counter").alias("cms_est"))
