"""Partition-layout helpers shared by compute-heavy operators.

At cluster scale a parquet scan arrives pre-split (one partition per
file split), so per-row compute — minhash signatures, sign-bucket
hashing, shingle inversion — parallelizes for free. A SMALL input (one
file, one row group) arrives as ONE partition, and because the heavy
work is a projection (no shuffle before it), it would run on a single
core regardless of cluster size. These helpers make that explicit
instead of leaving it to luck.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def estimated_size_bytes(df: DataFrame) -> int | None:
    """Optimizer-estimated size of ``df`` in bytes — driver-side only,
    no job. None when the py4j plumbing fails (never raises). This is
    the same estimate the planner uses for auto-broadcast decisions:
    scan-anchored (file sizes × column-width ratios), so it is reliable
    for scan/filter/project/aggregate inputs and USELESS for pinned
    (localCheckpointed) frames, which keep their origin plan's cascaded
    join estimates — gate on frames derived from scans, not on pins."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        return int(str(stats.sizeInBytes()))
    except Exception:  # noqa: BLE001 — estimate is best-effort by design
        return None


def _parse_byte_conf(v: str) -> int:
    """Parse Spark's byte-valued conf strings ('10MB', '10485760b',
    '-1')."""
    s = v.strip().lower()
    for suffix, mult in (
        ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30), ("tb", 1 << 40),
        ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("t", 1 << 40),
        ("b", 1),
    ):
        if s.endswith(suffix):
            return int(float(s[: -len(suffix)]) * mult)
    return int(s)


def fits_auto_broadcast(df: DataFrame) -> bool:
    """True when the planner's size estimate says ``df`` would be
    auto-broadcast under the session's autoBroadcastJoinThreshold.

    The scale-adaptivity gate for plan shapes that are only right while
    one side broadcasts (guide §2.3/§3.1): at bench scale the dimension
    side broadcasts and the fact side never shuffles, so restructuring
    (pre-aggregation, vertex routing) would ADD an exchange; past the
    threshold the planner would pick a shuffle join of the raw fact
    rows, and the restructured shape wins. Gating on the same estimate
    the planner itself uses keeps the two decisions consistent. False
    when broadcasting is disabled (threshold ≤ 0) or the estimate is
    unavailable — the conservative direction for a 100 TB default."""
    try:
        thr = _parse_byte_conf(
            df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold")
        )
    except Exception:  # noqa: BLE001
        return False
    if thr <= 0:
        return False
    est = estimated_size_bytes(df)
    return est is not None and est <= thr


def ensure_min_parallelism(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition ONLY when the input has fewer partitions than the
    session's default parallelism. On a real many-split scan this is a
    no-op (no exchange is added); on a single-file input it spreads
    downstream projections across cores for one narrow shuffle of the
    raw rows. Call it at the top of operators whose per-row compute
    dominates (signature hashing, shingle/k-gram inversion, vector
    math) — not on cheap scans, where the exchange would cost more than
    it saves. Text-expansion operators are the canonical case: ~10³-10⁴
    CPU ops per input BYTE breaks the byte-proportionality Spark's file
    splits assume (measured 5.4 s → 1.4 s on ``dedup_winnowing_pairs``
    at sf0.1, whose ~10M-md5 postings build otherwise runs on the
    scan's single partition).

    With ``keys``, hash-partitions on them instead of round-robin:
    ``GenerateExec`` (explode) preserves its child's output
    partitioning, so a downstream ``groupBy(keys)`` — or a window
    partitioned by them — reuses the exchange and the EXPLODED frame
    (orders of magnitude larger than the input) never shuffles.
    Order-insensitive plans only: repartition reorders rows.

    CONTRACT: pass BARE SCAN inputs only. The partition probe
    (``df.rdd.getNumPartitions()``) finalizes the physical plan, which
    under AQE can eagerly execute upstream shuffle stages of a derived
    DataFrame (silently doubling work) and is unsupported under Spark
    Connect. Post-shuffle frames already carry shuffle-partition
    parallelism — skip this helper for them (operators that accept
    derived inputs expose an ``ensure_parallelism=False`` switch)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, *keys) if keys else df.repartition(target)
    return df


# Source docs per reduce partition of an expansion aggregate, and the
# most partitions one may take (see ``expansion_width``).
_ROWS_PER_PARTITION = 25_000
_MAX_WIDTH = 512
# Below this total file size an input is "small" (``source_rows_for_width``).
_SMALL_INPUT_BYTES = 32 << 20


def expansion_width(n_source_rows: int, default: int) -> int:
    """Reduce-side shuffle width for EXPANSION aggregates — the postings
    builds (shingle/fingerprint/band inverted indexes) whose groupBy key
    cardinality is orders of magnitude above the source row count.

    The r12 200M-rung wall (measured, not theoretical): at 4M docs the
    winnowing postings explode is ~240M rows / ~150M distinct fingerprint
    keys; reduced into the session's 32 shuffle partitions that is ~5M
    live keys per task across 32 concurrent ObjectHashAggregate maps —
    the 48 GiB JVM spent 30 minutes in a GC death spiral and died without
    completing a task. On a real cluster these exchanges are sized to
    data volume (the 100-200 MB/partition doctrine); the same rule here:
    ~25k source docs per reduce partition (each doc contributes ~40-60
    postings at the operators' defaults → ~0.6-1.5M keys/task), floored
    at the session default so small inputs keep their exact current
    plans, capped at 512 so a huge estimate cannot explode task count on
    local[32]. Pure function — pinned in tests."""
    return int(min(_MAX_WIDTH, max(default, n_source_rows // _ROWS_PER_PARTITION)))


def widen_expansion(df: DataFrame, *keys: str, n_source_rows: int) -> DataFrame:
    """Insert ``repartition(width, keys)`` immediately before an
    expansion groupBy/self-join on ``keys`` when the source row count
    demands more reduce width than the session default (see
    :func:`expansion_width`). The downstream groupBy reuses the exchange
    (same hash clustering), and a user-specified width is exempt from
    AQE coalescing, so the per-task key count is actually bounded. When
    the computed width is within the session default this is a NO-OP —
    the plan (and the promoted small-SF floors and plan pins) are
    byte-identical.

    ``n_source_rows`` is the SOURCE row count (documents, not exploded
    postings): callers that already hold a count pass it; operators
    without one take a ``df.count()`` on their bare-scan input — a
    column-pruned parquet count, milliseconds against the minutes the
    postings build itself costs at the row counts where the width
    matters (r12 lesson: this exchange is the difference between 68 s
    and a dead JVM at 4M docs)."""
    spark = df.sparkSession
    try:
        default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:  # noqa: BLE001 — conf key always exists in practice
        default = spark.sparkContext.defaultParallelism
    width = expansion_width(n_source_rows, default)
    if width <= default:
        return df
    return df.repartition(width, *keys)


def source_rows_for_width(df: DataFrame, n_rows_est: int | None = None) -> int:
    """Source row count to feed :func:`expansion_width`: the caller's
    explicit estimate when given; ``0`` ("small — keep the session
    default width") when the input is a file scan whose total size is
    under 32 MiB — a no-job check via ``inputFiles()``,
    so the sf0.1 bench cells and their promoted floors see ZERO plan or
    job change; else one column-pruned ``count()`` (row counts at the
    millions-of-docs scale where the width matters cost milliseconds
    against the minutes of the postings build itself). Non-file inputs
    (synthetic frames) with no estimate fall through to the count."""
    if n_rows_est is not None:
        return n_rows_est
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — estimation must never fail the op
        files = []
    if files:
        import os

        total: int | None = 0
        for f in files:
            path = f
            if path.startswith("file://"):
                path = path[len("file://") :]
            elif path.startswith("file:"):
                path = path[len("file:") :]
            if not path.startswith("/"):
                total = None  # remote FS — sizes not locally statable
                break
            try:
                total += os.path.getsize(path)
            except OSError:
                total = None
                break
        if total is not None and total < _SMALL_INPUT_BYTES:
            return 0
    return df.count()
