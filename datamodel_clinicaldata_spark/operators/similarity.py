"""Similarity search over embedding columns (``array<float>``).

- ``cosine_topk_bruteforce``: exact top-k neighbors for a (small) query
  set: broadcast the queries, score every corpus row with built-in
  higher-order functions, per-query top-k via window row_number. The
  baseline and the correctness oracle for the approximate paths.
  Scale shape: corpus-partition-parallel scan, no shuffle except the final
  per-query top-k (k rows per partition per query pre-aggregated by the
  window's partial top-k sort).
- ``cosine_neardup_pairs``: all pairs with cosine ≥ τ, blocked by
  random-hyperplane LSH sign buckets (exact verify in-bucket, with
  multi-probe via several independent plane sets to keep recall high).
- ``ivf_topk``: IVF-style two-stage ANN: k-means-lite centroids (sampled
  seed points refined once — deterministic), assign corpus to nearest
  centroid (one narrow shuffle), probe the ``nprobe`` nearest centroids
  per query. The 100 TB path: scoring touches only probed partitions.

Corpus frames carry ``vec_id`` and ``embedding``; query frames carry
``query_id`` and ``embedding``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datamodel_clinicaldata_spark.functions.vectors import (
    as_double,
    cosine,
    dot,
    round_fixed,
    sign_bits_expr,
)
from datamodel_clinicaldata_spark.operators.partitioning import ensure_min_parallelism

# LSH and projection hyperplanes are deterministic SplitMix64 samples
# (``_lcg_planes``) over the 64-dim embeddings; the DuckDB oracles in
# ``queries_similarity`` rebuild the identical planes from these values.
PLANE_DIM = 64
LSH_PLANE_SEED = 13
PROJ_PLANE_SEED = 29
# Projected dimension of ``projection_topk_rerank``'s coarse pass.
PROJ_DIM = 32
# Neighbours returned per query by the ANN operators, and IVF cell count.
_ANN_K = 10
_IVF_CENTROIDS = 16
# Upper clamp of ``ivf_pair_candidates``' dynamic cell count.
_MAX_PAIR_CENTROIDS = 4096


def cosine_topk_bruteforce(
    corpus: DataFrame, queries: DataFrame, k: int = 10
) -> DataFrame:
    """Exact cosine top-k per query. Ties break on ascending corpus id so
    results are deterministic across engines.

    Two-phase top-k: a single ``Window.partitionBy(query_id)`` pulls every
    scored corpus row for one query through ONE task — with a handful of
    queries at 100 TB that is a serial sort of the whole corpus. Phase 1
    ranks within (query, input-partition) — ``spark_partition_id()`` is
    evaluated on the scan-side partitions, so the sort parallelism is
    n_queries × n_partitions — and keeps k rows per group; phase 2 ranks
    only the surviving ≤ k·n_partitions rows per query. Same shuffle
    volume on phase 1 (inherent to window ranking), but no serial-sort
    bottleneck and a negligible phase-2."""
    # Hoisted norms (anchor-norm doctrine): each side's double cast and
    # self-dot happen once per ROW, not once per (row, query) pair — the
    # naive per-pair cosine() costs 3 folds + 2 casts per pair. The pair
    # expression dot/sqrt(n2a·n2b) is the identical IEEE sequence as
    # cosine(corpus_vec, query_vec), so scores are bit-unchanged.
    q = queries.select(F.col("query_id"), as_double(F.col("embedding")).alias("__qvec"))
    q = q.withColumn("__qn2", dot(F.col("__qvec"), F.col("__qvec")))
    c = corpus.select(F.col("vec_id"), as_double(F.col("embedding")).alias("__cv"))
    c = c.withColumn("__cn2", dot(F.col("__cv"), F.col("__cv")))
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        round_fixed(
            dot(F.col("__cv"), F.col("__qvec"))
            / F.sqrt(F.col("__cn2") * F.col("__qn2")),
        ).alias("cos_sim"),
    )
    order = [F.col("cos_sim").desc(), F.col("vec_id").asc()]
    w_local = Window.partitionBy("query_id", F.spark_partition_id()).orderBy(*order)
    w_global = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("__local_rank", F.row_number().over(w_local))
        .filter(F.col("__local_rank") <= k)
        .withColumn("rank", F.row_number().over(w_global).cast("long"))
        .filter(F.col("rank") <= k)
        .drop("__local_rank")
    )


def neardup_candidate_pairs(
    df: DataFrame, n_tables: int = 4, bits: int = 8, ensure_parallelism: bool = True
) -> DataFrame:
    """LSH candidate id-pairs only — the blocking stage of
    ``cosine_neardup_pairs``, exposed separately so callers (bench
    instrumentation, recall analysis) can measure candidate volume vs
    all-pairs without running the exact verify.

    ``ensure_parallelism=False`` for DERIVED (post-shuffle) corpora —
    the helper's partition probe is scan-input-only (see
    ``partitioning.ensure_min_parallelism``)."""
    planes_all = _lcg_planes(n_tables * bits, PLANE_DIM, LSH_PLANE_SEED)
    tables = [planes_all[t * bits : (t + 1) * bits] for t in range(n_tables)]

    if ensure_parallelism:
        df = ensure_min_parallelism(df)

    # Candidate generation stays NARROW: bucket rows carry only (id,
    # table, bucket), so the self-join emits 16-byte id pairs and the
    # cross-table dropDuplicates shuffles ids, not 2×dim float payloads.
    # (Skewed buckets — clustered corpora collapse into few sign
    # buckets — made the previous vector-carrying dedup shuffle ~35×
    # heavier than necessary, measured 22 s for this stage at sf0.1.)
    # Bucket ids come from sign_bits_expr (one parsed SQL string per
    # table): with n_tables×bits×dim plane literals, per-Column assembly
    # spent ~9 s of PYTHON time per DataFrame construction — which the
    # bench times — at 80×64; the parsed form is bit-identical (pinned
    # by tests) and ~100× cheaper to build.
    # The double cast is hoisted to ONE named column: inlined, every
    # table's sign_bits_expr re-ran the cast-transform (n_tables×bits
    # interpreted dots each re-casting dim floats — 80 re-casts per row
    # on the prod config). Same doubles, bit-identical buckets.
    buckets = (
        df.select(F.col("vec_id"), as_double(F.col("embedding")).alias("__dv"))
        .select(
            F.col("vec_id"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("table"),
                            sign_bits_expr("__dv", tables[t], pre_cast=True).alias(
                                "bucket"
                            ),
                        )
                        for t in range(len(tables))
                    ]
                )
            ).alias("tb"),
        )
        .select("vec_id", "tb.table", "tb.bucket")
    )

    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def cosine_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    n_tables: int = 4,
    bits: int = 8,
    ensure_parallelism: bool = True,
) -> DataFrame:
    """cosine ≥ threshold pairs via multi-table hyperplane LSH blocking.

    Each of ``n_tables`` independent plane sets hashes every vector to a
    ``bits``-bit sign bucket; candidates = pairs sharing a bucket in ANY
    table; exact cosine verifies. Miss probability per pair is
    ((1-(1-θ/π)^bits))^tables — small for near-dup thresholds.
    Planes are a deterministic LCG sample (reproducible, no numpy state).
    """
    cand = neardup_candidate_pairs(
        df,
        n_tables=n_tables,
        bits=bits,
        ensure_parallelism=ensure_parallelism,
    )

    # Exact verify: join the deduped pairs back to per-vector precomputed
    # (double-cast vector, squared norm) — each vector's cast and
    # self-dot happen ONCE, not once per pair per cosine() call. The
    # pair-level expression dot(a,b)/sqrt(n2a*n2b) is the same float
    # operation sequence as functions.vectors.cosine (sqrt of product,
    # not product of sqrts), so results are bit-identical to the
    # unoptimized form and hash-stable vs the oracle.
    # Measured dead end (r4): expanding the pair dot as a 64-term
    # element_at sum to escape interpreted HOF lambdas made the verify
    # ~4× SLOWER (14.9 s vs 3.3 s at sf0.1) — the giant flat expression
    # bloats the task binary (~1.4 MB broadcast) and falls out of
    # whole-stage codegen; the interpreted fold is the better shape here.
    dv = as_double(F.col("embedding"))
    side_in = ensure_min_parallelism(df) if ensure_parallelism else df
    side = side_in.select(
        F.col("vec_id"),
        dv.alias("__v"),
        dot(dv, dv).alias("__n2"),
    )
    sa = side.select(
        F.col("vec_id").alias("id_a"), F.col("__v").alias("__va"), F.col("__n2").alias("__n2a")
    )
    sb = side.select(
        F.col("vec_id").alias("id_b"), F.col("__v").alias("__vb"), F.col("__n2").alias("__n2b")
    )
    cos_sim = dot(F.col("__va"), F.col("__vb")) / F.sqrt(F.col("__n2a") * F.col("__n2b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", round_fixed(cos_sim).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def _centroid_array_expr(cents: list[list[float]]) -> "F.Column":
    """Broadcast centroid constant as ONE parsed SQL literal —
    array<struct<cid:int, cvec:array<double>>> — instead of
    n_centroids×dim F.lit Column objects (~2 s of Python/py4j build time
    at 16×64, charged to every query construction). repr round-trips the
    doubles, so values are bit-identical to the Column form."""
    rows = ",".join(
        "named_struct('cid', {}, 'cvec', array({}))".format(
            i, ",".join(f"{float(x)!r}D" for x in c)
        )
        for i, c in enumerate(cents)
    )
    return F.expr(f"array({rows})")


def _fold_self_n2(c: list[float]) -> float:
    """Sequential ``acc + x·x`` left fold in Python doubles — the SAME
    IEEE operation sequence as ``functions.vectors.dot(v, v)`` and
    DuckDB's ``list_inner_product(v, v)``, so a driver-side centroid
    self-norm literal is bit-identical to what either engine would
    compute at run time."""
    acc = 0.0
    for x in c:
        acc += float(x) * float(x)
    return acc


def _centroid_array_expr_n2(cents: list[list[float]]) -> "F.Column":
    """``_centroid_array_expr`` plus a HOISTED self-norm ``cn2`` per
    centroid (same literal doctrine as ``ivf_pair_candidates``): the
    straightforward ``cosine(v, c)`` inside a per-centroid transform
    recomputes dot(v,v) AND dot(c,c) for every (row, centroid) — 3
    interpreted folds where 1 suffices, tripling the dominant
    assignment cost. With cn2 embedded and the row norm hoisted to a
    column, assignment is one cross-dot per centroid."""
    rows = ",".join(
        "named_struct('cid', {}, 'cvec', array({}), 'cn2', {!r}D)".format(
            i, ",".join(f"{float(x)!r}D" for x in c), _fold_self_n2(c)
        )
        for i, c in enumerate(cents)
    )
    return F.expr(f"array({rows})")


def nearest_scored(v: "F.Column", n2: "F.Column", cent_n2: "F.Column") -> "F.Column":
    """Sorted (negcos, cid) struct array scoring a pre-cast double vector
    ``v`` with hoisted self-norm ``n2`` against a ``_centroid_array_expr_n2``
    literal. Element 1 is the assignment; the first nprobe are the probe
    list. The expression sequence dot(v,c)/sqrt(n2·cn2) is the identical
    IEEE sequence as ``cosine(v, c)`` (sqrt-of-product, row side first),
    so scores — and every oracle hash — are bit-unchanged."""
    scored = F.transform(
        cent_n2,
        lambda c: F.struct(
            (-(dot(v, c["cvec"]) / F.sqrt(n2 * c["cn2"]))).alias("negcos"),
            c["cid"].alias("cid"),
        ),
    )
    return F.array_sort(scored)


def kmeans_refine(
    corpus: DataFrame, seeds: list[list[float]], iters: int = 2
) -> list[list[float]]:
    """Lloyd iterations over the corpus: assign every vector to its nearest
    seed (cosine), recompute centroids as per-cluster means, repeat.

    The iterative-algorithm pattern on Spark: each iteration is one
    aggregate job (assign is a projection against broadcast centroids;
    the mean is ``zip_with``-summed arrays — partial aggregation
    map-side), with only n_centroids × dim floats returning to the
    driver between iterations. No sampling; assignment ties break to the
    lowest centroid id (results deterministic up to float reduction
    order in the means). Empty clusters keep their previous centroid."""
    cents = [list(map(float, s)) for s in seeds]
    dim = len(cents[0])
    for _ in range(iters):
        # Hoisted-norm assignment — see nearest_scored (bit-identical).
        cent_array = _centroid_array_expr_n2(cents)
        assigned = (
            corpus.select(as_double(F.col("embedding")).alias("__v"))
            .withColumn("__n2", dot(F.col("__v"), F.col("__v")))
            .select(
                nearest_scored(F.col("__v"), F.col("__n2"), cent_array)[0][
                    "cid"
                ].alias("__cid"),
                F.col("__v"),
            )
        )
        # Per-(cluster, dimension) partial sums — posexplode keeps the
        # combine map-side (shuffle rows ≈ partitions × k × dim), never a
        # whole cluster's vectors in one reducer row.
        rows = (
            assigned.select("__cid", F.posexplode("__v").alias("pos", "val"))
            .groupBy("__cid", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new_cents = [list(c) for c in cents]
        for r in rows:
            new_cents[r["__cid"]][r["pos"]] = r["s"] / r["n"]
        cents = new_cents
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    nprobe: int = 4,
    refine_iters: int = 0,
    seed_by: str = "hash",
) -> DataFrame:
    """IVF two-stage ANN top-10 per query over 16 cells. Centroids = a
    deterministic hash-stride corpus sample (rows whose xxhash64(id) ≡ 0
    mod n/16, lowest ids kept) — k-means seeding without iterative
    training; good enough for partition pruning, fully deterministic,
    and crucially sampled WITHOUT a global window (a ``Window.orderBy`` over the whole corpus would pull
    100 TB through one partition; the hash filter is a parallel scan and
    the ``orderBy().limit()`` on its tiny survivor set is a TakeOrdered).

    ``seed_by='lowest'`` seeds from the 16 lowest ids instead
    of the hash stride — same TakeOrdered scan shape, but expressible in
    plain SQL (xxhash64 has no cross-engine twin), so results can be
    replayed by an ANSI oracle. Seeding strategy only changes WHICH
    centroids anchor the buckets, not the IVF plan shape.

    Stage 1: assign every corpus vector to its nearest centroid (broadcast
    centroids, argmin over a small array — a projection, then the corpus
    can be written bucketed by ``centroid`` for reuse).
    Stage 2: per query, pick ``nprobe`` nearest centroids, then exact
    cosine only over those buckets — at scale this prunes
    (1 - nprobe/16) of the scan.

    ``refine_iters`` > 0 runs that many Lloyd iterations
    (``kmeans_refine``) on the seeds before assignment — tighter clusters
    → better recall at the same nprobe.
    """
    sampled = corpus.select(F.col("vec_id"), F.col("embedding").alias("__cvec"))
    if seed_by == "hash":
        n = corpus.count()
        step = max(n // _IVF_CENTROIDS, 1)
        sampled = sampled.filter(
            F.pmod(F.xxhash64(F.col("vec_id")), F.lit(step)) == 0
        )
    elif seed_by != "lowest":
        raise ValueError(f"seed_by must be hash|lowest, got {seed_by!r}")
    sampled = sampled.orderBy("vec_id").limit(_IVF_CENTROIDS)
    seeds = [r["__cvec"] for r in sampled.collect()]  # ≤ n_centroids vecs
    if refine_iters > 0:
        seeds = kmeans_refine(corpus, seeds, iters=refine_iters)
    # Hoisted-norm assignment (ivf_pair_candidates doctrine): the row's
    # double cast and self-dot happen ONCE per row, centroid self-norms
    # ride the literal — one cross-dot per (row, centroid) instead of 3
    # folds + per-centroid re-casts. Scores bit-identical (see
    # nearest_scored).
    cent_array = _centroid_array_expr_n2([list(map(float, v)) for v in seeds])

    def nearest(topn):
        return F.slice(
            nearest_scored(F.col("__v"), F.col("__n2"), cent_array), 1, topn
        )

    assigned = corpus.select(
        F.col("vec_id"),
        as_double(F.col("embedding")).alias("__v"),
    ).withColumn("__n2", dot(F.col("__v"), F.col("__v"))).select(
        F.col("vec_id"),
        "__v",
        "__n2",
        nearest(1)[0]["cid"].alias("__cid"),
    )
    q = queries.select(
        F.col("query_id"),
        as_double(F.col("embedding")).alias("__v"),
    ).withColumn("__n2", dot(F.col("__v"), F.col("__v"))).select(
        F.col("query_id"),
        F.col("__v").alias("__qvec"),
        F.col("__n2").alias("__qn2"),
        F.explode(
            F.transform(nearest(nprobe), lambda s: s["cid"])
        ).alias("__cid"),
    )
    # Pair scoring reuses both hoisted norms: dot/sqrt sequence matches
    # cosine(corpus_vec, query_vec) exactly (row side first under sqrt).
    scored = assigned.join(F.broadcast(q), "__cid").select(
        "query_id",
        "vec_id",
        round_fixed(
            dot(F.col("__v"), F.col("__qvec"))
            / F.sqrt(F.col("__n2") * F.col("__qn2")),
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    # No dedup needed: each corpus row has exactly one __cid and each query
    # probes nprobe distinct cids, so (query, corpus) pairs are unique.
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _ANN_K)
    )


def ivf_quantized_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """IVF-SQ top-10 per query, probing 4 of 16 cells: IVF partition
    pruning composed with int8 scalar
    quantization — the standard memory-bound ANN configuration (FAISS
    ``IVF,SQ8``): centroid assignment and probe selection run on the
    float vectors (cosine, as in ``ivf_topk``), but the in-bucket scan
    ranks by the exact INTEGER dot of per-vector symmetric-quantized
    codes (``functions.vectors.quantize_int8``). At 100 TB the bucketed
    corpus stores 4× smaller codes, the scan prunes
    (1 − 4/16) of the data, and the integer scores are
    deterministic and float-noise-free across engines.

    Seeding is ``seed_by='lowest'`` (the 16 lowest ids) so an
    ANSI oracle can replay assignment, probing, quantization, and
    scoring exactly."""
    from datamodel_clinicaldata_spark.functions.vectors import int_dot, quantize_int8

    sampled = (
        corpus.select(F.col("vec_id"), F.col("embedding").alias("__cvec"))
        .orderBy("vec_id")
        .limit(_IVF_CENTROIDS)
    )
    seeds = [r["__cvec"] for r in sampled.collect()]  # ≤ n_centroids vecs
    # Hoisted-norm assignment — see ivf_topk / nearest_scored (scores
    # bit-identical to the inline cosine form).
    cent_array = _centroid_array_expr_n2([list(map(float, v)) for v in seeds])

    def nearest(topn):
        return F.slice(
            nearest_scored(F.col("__v"), F.col("__n2"), cent_array), 1, topn
        )

    assigned = corpus.select(
        F.col("vec_id"),
        as_double(F.col("embedding")).alias("__v"),
    ).withColumn("__n2", dot(F.col("__v"), F.col("__v"))).select(
        F.col("vec_id"),
        nearest(1)[0]["cid"].alias("__cid"),
        quantize_int8(F.col("__v")).alias("__code"),
    )
    q = queries.select(
        F.col("query_id"),
        as_double(F.col("embedding")).alias("__v"),
    ).withColumn("__n2", dot(F.col("__v"), F.col("__v"))).select(
        F.col("query_id"),
        quantize_int8(F.col("__v")).alias("__qcode"),
        F.explode(
            F.transform(nearest(4), lambda s: s["cid"])
        ).alias("__cid"),
    )
    scored = assigned.join(F.broadcast(q), "__cid").select(
        "query_id",
        "vec_id",
        int_dot(F.col("__code"), F.col("__qcode")).alias("dot_q"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot_q").desc(), F.col("vec_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= _ANN_K
    )


def _lcg_planes(n: int, dim: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes — stable across
    runs/engines without numpy RNG state.

    Generator is SplitMix64 (counter → avalanche finalizer). The
    previous raw LCG carried a sign-bias defect: ``(state >> 33)`` is a
    31-bit value, so ``/2³¹ − 1`` mapped every component into [-1, 0) —
    ALL planes sat in the negative orthant with pairwise cos ≈ 0.75
    (measured 0.736), collapsing a 10-bit bucket to ~2 effective bits
    (≈10% per-table collisions on an isotropic corpus instead of 2⁻¹⁰)
    and silently inflating every LSH candidate set. Correct scaling
    takes 32 bits → [0, 2) − 1 → [-1, 1); with it, planes land
    near-orthogonal (mean |cos| ≈ 1/√dim ≈ 0.1 at dim=64) and per-table
    collisions match the 2^-bits theory."""
    mask = 0xFFFFFFFFFFFFFFFF
    planes = []
    for i in range(n):
        p = []
        for j in range(dim):
            z = (seed + (i * dim + j + 1) * 0x9E3779B97F4A7C15) & mask
            z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & mask
            z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & mask
            z ^= z >> 31
            p.append(((z >> 32) / float(1 << 31)) - 1.0)  # uniform [-1, 1)
        planes.append(p)
    return planes


def quantized_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Int8-quantized top-10: both sides symmetric-quantized per vector
    (``functions.vectors.quantize_int8``), ranked by the exact INTEGER dot
    product of the quantized codes — the memory-bound ANN configuration
    (4× smaller vectors than float32, SIMD-able integer math) with fully
    deterministic, float-noise-free scores.

    Same two-phase top-k as ``cosine_topk_bruteforce`` (local per-scan-
    partition rank, then global rank over the ≤ 10·n_partitions
    survivors) — no whole-corpus serial sort. Scale shape: corpus scan ×
    broadcast queries; quantization is a codegen projection, not a pass."""
    from datamodel_clinicaldata_spark.functions.vectors import int_dot, quantize_int8

    q = queries.select(
        F.col("query_id"), quantize_int8(F.col("embedding")).alias("__qcode")
    )
    scored = (
        corpus.withColumn("__code", quantize_int8(F.col("embedding")))
        .crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "vec_id",
            int_dot(F.col("__code"), F.col("__qcode")).alias("dot_q"),
        )
    )
    order = [F.col("dot_q").desc(), F.col("vec_id").asc()]
    w_local = Window.partitionBy("query_id", F.spark_partition_id()).orderBy(*order)
    w_global = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("__local_rank", F.row_number().over(w_local))
        .filter(F.col("__local_rank") <= _ANN_K)
        .withColumn("rank", F.row_number().over(w_global).cast("long"))
        .filter(F.col("rank") <= _ANN_K)
        .drop("__local_rank")
    )


def _projection_expr(planes: list[list[float]]) -> "F.Column":
    """Project the array<double> column ``__dv`` onto ``planes`` as ONE
    parsed SQL expression returning ``array<double>`` — same
    parsed-literal doctrine as ``sign_bits_expr`` (construction is one string parse, not a py4j
    crawl) and the same sequential zip_with/aggregate fold as
    ``functions.vectors.dot``, so every component is bit-identical to
    DuckDB's ``list_inner_product`` over the same double literals.
    Casting once into ``__dv`` (rather than a cast-transform inlined and
    re-evaluated once per plane) is 32× less per-row transform work at
    32 planes."""
    comps = []
    for p in planes:
        arr = "array(" + ",".join(f"{x!r}D" for x in p) + ")"
        comps.append(
            f"aggregate(zip_with(__dv, {arr}, (x, y) -> x * y), "
            f"cast(0.0 as double), (acc, v) -> acc + v)"
        )
    return F.expr("array(" + ", ".join(comps) + ")")


def projection_topk_rerank(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Coarse-then-refine ANN cascade: random-projection (Johnson-
    Lindenstrauss) cosine in ``PROJ_DIM`` (32) dims picks top-200
    candidates per query, then exact full-dimension cosine reranks to
    top-10.

    The 100 TB shape: the coarse pass scans only the 32-dim
    projections (2× fewer flops and bytes at 64→32; at a 1536-dim
    production embedding the ratio is ~100×), computed in-scan from the
    raw vector — or, on a real deployment, persisted as their own narrow
    column so the scan prunes the wide one. The rerank touches full
    vectors for only q·200 rows, fetched via a BROADCAST semi-join of the
    candidate id set (no corpus shuffle anywhere; the only wide exchange
    is the coarse two-phase top-200, which ships (query_id, id, double)).

    Projection planes are the deterministic SplitMix64 sample
    (``_lcg_planes``) so both engines replay the identical cascade;
    recall vs brute force is pinned in tests/test_similarity.py.
    """
    planes = _lcg_planes(PROJ_DIM, PLANE_DIM, PROJ_PLANE_SEED)
    proj = _projection_expr(planes)

    # Per-row norms precomputed BEFORE the pair join (each vector's
    # self-dot happens once, not once per pair); dot/sqrt sequence is
    # unchanged so scores stay bit-identical to the oracle's
    # sqrt-of-product form. The double cast is likewise hoisted to one
    # named column — inlined it re-ran once per plane (32× per row).
    corpus_p = (
        ensure_min_parallelism(corpus)
        .select(F.col("vec_id"), as_double(F.col("embedding")).alias("__dv"))
        .select(F.col("vec_id"), proj.alias("__p"))
    )
    corpus_p = corpus_p.withColumn("__pn2", dot(F.col("__p"), F.col("__p")))
    queries_p = queries.select(
        F.col("query_id"), as_double(F.col("embedding")).alias("__dv")
    ).select(F.col("query_id"), proj.alias("__qp"))
    queries_p = queries_p.withColumn("__qn2", dot(F.col("__qp"), F.col("__qp")))

    coarse = corpus_p.crossJoin(F.broadcast(queries_p)).select(
        "query_id",
        "vec_id",
        round_fixed(
            dot(F.col("__p"), F.col("__qp"))
            / F.sqrt(F.col("__pn2") * F.col("__qn2")),
        ).alias("__coarse"),
    )
    order = [F.col("__coarse").desc(), F.col("vec_id").asc()]
    w_local = Window.partitionBy("query_id", F.spark_partition_id()).orderBy(*order)
    w_global = Window.partitionBy("query_id").orderBy(*order)
    cand = (
        coarse.withColumn("__lr", F.row_number().over(w_local))
        .filter(F.col("__lr") <= 200)
        .withColumn("__r", F.row_number().over(w_global))
        .filter(F.col("__r") <= 200)
        .select("query_id", "vec_id")
    )

    # Rerank: candidate ids (q·m rows) broadcast against the corpus, so
    # full vectors are read only for survivors; query vectors broadcast.
    dv = as_double(F.col("embedding"))
    full = corpus.select(F.col("vec_id"), dv.alias("__v"))
    qfull = queries.select(F.col("query_id"), dv.alias("__qv"))
    rer = (
        full.join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(qfull), "query_id")
        .select(
            "query_id",
            "vec_id",
            round_fixed(
                dot(F.col("__v"), F.col("__qv"))
                / F.sqrt(
                    dot(F.col("__v"), F.col("__v"))
                    * dot(F.col("__qv"), F.col("__qv"))
                ),
            ).alias("cos_sim"),
        )
    )
    w_final = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        rer.withColumn("rank", F.row_number().over(w_final).cast("long"))
        .filter(F.col("rank") <= _ANN_K)
    )


def contrastive_triplets(corpus: DataFrame, anchors: DataFrame) -> DataFrame:
    """Hard-negative mining for contrastive training over a labeled corpus
    (``vec_id``, ``embedding``, ``label``): per anchor (``anchor_id``,
    ``embedding``, ``label``), the
    most-similar SAME-label vector (positive) and the most-similar
    DIFFERENT-label vector (the hard negative — the pair that contributes
    the largest loss), with the margin between them.

    Plan shape: anchors broadcast against one corpus scan; both the
    positive and the negative are per-(anchor, side) top-1s taken with
    the same two-phase rank as ``cosine_topk_bruteforce`` (local rank per
    scan partition → global rank over ≤ n_partitions survivors), so no
    anchor's full scored set ever serializes through one task. Ties break
    on ascending corpus id; scores carry ``round_fixed`` so rank keys are
    engine-independent.
    """
    q = anchors.select(
        F.col("anchor_id"),
        F.col("embedding").alias("__qv"),
        F.col("label").alias("__ql"),
    )
    dv = as_double(F.col("embedding"))
    side = corpus.select(
        F.col("vec_id"), F.col("label"), dv.alias("__v"), dot(dv, dv).alias("__n2")
    )
    # Precompute each anchor's self-dot ONCE in the (tiny, broadcast)
    # anchor frame — advice r5: folding dot(qv,qv) inside the scored
    # expression re-ran an O(dim) fold per (corpus row × anchor) pair.
    # Same dot/sqrt sequence, so scores stay bit-identical.
    qv = as_double(F.col("__qv"))
    q = q.withColumn("__qn2", dot(qv, qv))
    scored = side.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("anchor_id")
    )
    scored = scored.select(
        "anchor_id",
        "vec_id",
        (F.col("label") == F.col("__ql")).alias("__same"),
        round_fixed(
            dot(F.col("__v"), qv) / F.sqrt(F.col("__n2") * F.col("__qn2"))
        ).alias("__sim"),
    )
    order = [F.col("__sim").desc(), F.col("vec_id").asc()]
    w_local = Window.partitionBy(
        "anchor_id", "__same", F.spark_partition_id()
    ).orderBy(*order)
    w_global = Window.partitionBy("anchor_id", "__same").orderBy(*order)
    best = (
        scored.withColumn("__lr", F.row_number().over(w_local))
        .filter(F.col("__lr") == 1)
        .withColumn("__r", F.row_number().over(w_global))
        .filter(F.col("__r") == 1)
    )
    # r13 (guide §2.4): pos/neg used to be two FILTERED VIEWS of `best`
    # joined back on anchor_id — consuming `best` twice re-ran the whole
    # broadcast-score + two-phase-rank pipeline per side (plan: 4 corpus
    # scans, 2 BroadcastNestedLoopJoins, 8 WindowGroupLimits). `best` has
    # at most ONE row per (anchor, side), so a conditional-max PIVOT over
    # anchor_id reads it once; filtering both sides non-null reproduces
    # the inner join exactly (max of a single value is that value).
    piv = best.groupBy("anchor_id").agg(
        F.max(F.when(F.col("__same"), F.col("vec_id"))).alias("pos_id"),
        F.max(F.when(F.col("__same"), F.col("__sim"))).alias("pos_sim"),
        F.max(F.when(~F.col("__same"), F.col("vec_id"))).alias("neg_id"),
        F.max(F.when(~F.col("__same"), F.col("__sim"))).alias("neg_sim"),
    )
    return piv.filter(
        F.col("pos_id").isNotNull() & F.col("neg_id").isNotNull()
    ).select(
        "anchor_id",
        "pos_id",
        "pos_sim",
        "neg_id",
        "neg_sim",
        round_fixed(F.col("pos_sim") - F.col("neg_sim")).alias("margin"),
    )


def assign_cells(
    df: DataFrame,
    cents: list[list[float]],
    vec_col: str = "embedding",
    impl: str = "expr",
) -> DataFrame:
    """Nearest-centroid (max-cosine) cell assignment — the IVF /
    SemDeDup blocking stage. Centroids broadcast as a constant; data
    never moves: assignment is a narrow map at any scale.

    Two implementations, one contract:

    - ``impl="expr"`` — pure Catalyst HOFs (the oracle-replayable form:
      sequential-fold dot products match DuckDB's ``list_inner_product``
      term-for-term, and ties break on the LOWest cid via the
      (−cos, cid) struct sort). This is the form every oracle-gated
      query must use.
    - ``impl="arrow"`` — Arrow-batched numpy matmul over
      ``mapInPandas``: one BLAS GEMM per batch instead of
      n_centroids × dim interpreted fold steps per row. Measured 5.3×
      faster end-to-end at 1M×64×16, 4.6 s vs 24.5 s warm incl. vector
      generation (tools/scale_probe.py). numpy's pairwise
      summation can differ from the sequential fold in the last ulp, so
      argmax may flip ONLY on near-exact cosine ties — fine for
      production blocking, NOT oracle-replayable; tests pin full
      agreement on the fixture corpus (near-orthogonal vectors, top-2
      gap ≫ ulp).

    Returns the input columns plus ``cid`` (int cell id)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    if impl == "expr":
        # Hoisted-norm assignment (see nearest_scored): row self-dot as a
        # named column computed once, centroid self-norms as literals —
        # previously BOTH were re-evaluated per (row, centroid).
        cent = _centroid_array_expr_n2(cents)
        assigned = df.withColumn(
            "__an2", dot(F.col(vec_col), F.col(vec_col))
        ).withColumn(
            "cid",
            nearest_scored(F.col(vec_col), F.col("__an2"), cent)[0]["cid"].cast(
                "int"
            ),
        )
        return assigned.drop("__an2")
    if impl != "arrow":
        raise ValueError(f"assign_cells: unknown impl {impl!r}")

    C = np.asarray(cents, dtype=np.float64)  # (k, dim)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", cid int"

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            vn = np.linalg.norm(V, axis=1, keepdims=True)
            vn[vn == 0.0] = 1.0
            cos = (V / vn) @ Cn.T  # (n, k)
            pdf["cid"] = np.argmax(cos, axis=1).astype("int32")
            yield pdf

    return df.mapInPandas(assign, schema=out_schema)


def ivf_pair_candidates(
    prep: DataFrame, n_centroids: int | None = None, nprobe: int | None = None
) -> DataFrame:
    """IVF-bucketed candidate pairs for the leave-one-out label eval —
    the corpus-scale substitute for the all-pairs BNLJ. ``prep`` is the
    prepared eval frame (``vec_id``, ``label``, ``__v`` double vector,
    ``__n2`` hoisted self-norm). Centroids = the ``n_centroids``
    lowest-id vectors (the ``seed_by='lowest'`` scheme shared with
    ``ivf_topk`` — SQL-expressible, so an ANSI oracle replays bucketing
    exactly); every vector is assigned to its nearest centroid (a
    broadcast-literal argmin projection), every QUERY probes its
    ``nprobe`` nearest cells, and candidates are the hash-join of the
    probe list with the cell assignment on ``__cid`` — never a pair
    BNLJ. Pairs are exactly-once (each corpus vector lives in ONE cell;
    a query's probed cells are distinct), self-pairs excluded.

    Sizing is DYNAMIC by default (r9 verdict #5): ``n_centroids=None``
    → clamp(16, ⌊√N⌋, ``max_centroids``) — the usual IVF cell count,
    keeping expected cell size √N as the corpus grows — and
    ``nprobe=None`` → max(4, n_centroids // 8), so probe coverage
    scales with the cell count. ⌊√N⌋ is ``math.floor(math.sqrt(n))``
    — IEEE-754 sqrt is correctly rounded, so a SQL oracle's
    ``floor(sqrt(count(*)))`` lands on the same integer. The
    ``max_centroids`` clamp bounds the driver-side seed pullback
    (4096 × dim doubles ≈ 2 MB at dim 64); past that a sampled-kmeans
    seeding would replace lowest-id seeds anyway.

    NOTE — construction is EAGER, unlike most operators here: sizing
    runs one bounded count job and seeding one orderBy-limit pullback
    at DataFrame-BUILD time (plan audits and tests that merely
    construct the plan execute both). The literal-centroid design is
    what keeps the assignment a broadcast argmin projection and the
    oracle replayable; deriving seeds lazily would trade that for a
    window-over-everything rank.

    Scale shape: candidate volume ≈ N²·nprobe/n_centroids; the join
    key has ``n_centroids`` distinct values (√N under default sizing),
    and AQE skew-join splits hot cells — parallelism within a cell
    comes from the probe side, which AQE re-splits freely.

    r13 optimization (guide §1.2 step 1 — don't compute things twice):
    the corpus side (argmin assignment) and the query side (top-nprobe
    probe list) previously each re-scanned ``prep`` and re-evaluated
    the full √N-centroid cosine scoring + per-row sort independently —
    2× the dominant per-row work. Both now derive from ONE projection
    that sorts the scored centroid array once per row (assignment =
    element 1, probes = first nprobe), pinned via ``truncate_lineage``
    so the join's two branches read the materialized assignment table
    instead of recomputing it — the same artifact a production IVF
    index persists. Measured at sf0.1 (A/B alternated in one session):
    3.0 s → 1.9 s end-to-end for ``eval_knn_label_accuracy``; results
    bit-identical (same negcos/cid sort keys, same probe set)."""
    import math

    from datamodel_clinicaldata_spark.operators.graph import truncate_lineage

    if n_centroids is None:
        n = prep.count()
        n_centroids = min(_MAX_PAIR_CENTROIDS, max(16, math.floor(math.sqrt(n))))
    if nprobe is None:
        nprobe = max(4, n_centroids // 8)
    sampled = prep.orderBy("vec_id").limit(n_centroids).select("__v").collect()
    seeds = [list(map(float, r["__v"])) for r in sampled]  # ≤ n_centroids

    # Centroid literal carries a HOISTED self-norm cn2 next to each
    # vector: the straightforward cosine(v, c) recomputes dot(v,v) AND
    # dot(c,c) per (row, centroid) — 3 folds/pair where 1 suffices, and
    # with √N centroids that tripling became the dominant execution cost
    # (measured 3.6 s → ~1.7 s at sf0.1/44 cells). cn2 is the SAME
    # left-fold ``acc + x·x`` as ``dot`` in Python doubles, so the
    # embedded literal is bit-identical to what either engine would
    # compute, and the row side reuses prep's hoisted ``__n2``.
    def _self_n2(c: list[float]) -> float:
        acc = 0.0
        for x in c:
            acc += x * x
        return acc

    rows = ",".join(
        "named_struct('cid', {}, 'cvec', array({}), 'cn2', {!r}D)".format(
            i, ",".join(f"{float(x)!r}D" for x in c), _self_n2(c)
        )
        for i, c in enumerate(seeds)
    )
    cent = F.expr(f"array({rows})")

    scored = F.transform(
        cent,
        lambda c: F.struct(
            (
                -(dot(F.col("__v"), c["cvec"]) / F.sqrt(F.col("__n2") * c["cn2"]))
            ).alias("negcos"),
            c["cid"].alias("cid"),
        ),
    )
    top = F.slice(F.array_sort(scored), 1, nprobe)
    pre = truncate_lineage(
        prep.select(
            "vec_id",
            "label",
            "__v",
            "__n2",
            top[0]["cid"].alias("__acid"),
            F.transform(top, lambda s: s["cid"]).alias("__probe"),
        )
    )
    corpus = pre.select(
        F.col("vec_id").alias("nid"),
        F.col("label").alias("nlabel"),
        F.col("__v").alias("__vb"),
        F.col("__n2").alias("__nb"),
        F.col("__acid").alias("__cid"),
    )
    queries = pre.select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("true_label"),
        F.col("__v").alias("__va"),
        F.col("__n2").alias("__na"),
        F.explode("__probe").alias("__cid"),
    )
    return corpus.join(queries, "__cid").filter(
        F.col("qid") != F.col("nid")
    )


def knn_label_accuracy(
    e: DataFrame,
    k: int = 5,
    candidate_fn=None,
    max_bruteforce_rows: int = 100_000,
    ensure_parallelism: bool = True,
) -> DataFrame:
    """Leave-one-out k-NN label accuracy over a labeled embedding set
    (``vec_id``, ``embedding``, ``label``), published per class.
    Majority vote over the k nearest neighbours by cosine (6-dp fixed
    rounding; rank ties by vec_id, vote ties by max count then MIN
    label). Neighbor generation is pluggable:

    - ``candidate_fn=None`` → exact brute force, GUARDED: the labeled
      set must count ≤ ``max_bruteforce_rows`` (eval sets are bounded
      by construction — hand- or model-labeled); beyond the bound the
      all-pairs BNLJ would quietly attempt N² pairs, so it raises
      instead, routing to the candidate path.
    - ``candidate_fn(prep) -> pairs`` — e.g.
      ``ivf_pair_candidates`` — must return exactly-once candidate
      pairs carrying both sides' hoisted vectors/norms (``qid``,
      ``true_label``, ``__va``, ``__na``, ``nid``, ``nlabel``,
      ``__vb``, ``__nb``). Everything downstream of the pairs is
      linear: one qid-partitioned rank window, two keyed aggregates, a
      per-class result.

    Vote tie-break key: ``c·2³² − nlabel`` (exact integer, one
    ``max_by``). Sound for the ENTIRE int32 label domain: vote-count
    buckets sit 2³² apart while |nlabel| < 2³¹, so a count difference
    always dominates and within a count the MIN label wins — no silent
    assumption on label magnitude (the previous ·1000 key broke above
    label 999)."""
    if ensure_parallelism:
        # spread the BARE scan (per the ensure_min_parallelism contract)
        # BEFORE deriving __v/__n2: the pair stage streams this side, and
        # on a single-rowgroup input all pair math would otherwise run on
        # one core (measured 96 s -> ~4 s at sf0.1)
        e = ensure_min_parallelism(e, "vec_id")
    prep = e.withColumns(
        {
            # hoist the self-norm: computed once per VECTOR instead of
            # twice per PAIR (3 inner products/pair -> 1), same
            # deterministic fold so the 6-dp rounding stays bit-aligned
            # with an oracle's hoisted n2
            "__v": as_double(F.col("embedding")),
        }
    ).withColumn("__n2", dot(F.col("__v"), F.col("__v")))
    if candidate_fn is not None:
        pairs = candidate_fn(prep)
    else:
        n = prep.count()
        if n > max_bruteforce_rows:
            raise ValueError(
                f"knn_label_accuracy: brute-force pair join over {n} rows "
                f"exceeds max_bruteforce_rows={max_bruteforce_rows} "
                f"(~{n * n:,} pairs). Labeled eval sets are bounded by "
                "construction; for corpus-scale neighbor generation pass "
                "candidate_fn=ivf_pair_candidates (or an LSH blocker, "
                "e.g. cosine_neardup_pairs/ivf_topk) instead."
            )
        a = prep.select(
            F.col("vec_id").alias("qid"),
            F.col("label").alias("true_label"),
            F.col("__v").alias("__va"),
            F.col("__n2").alias("__na"),
        )
        b = prep.select(
            F.col("vec_id").alias("nid"),
            F.col("label").alias("nlabel"),
            F.col("__v").alias("__vb"),
            F.col("__n2").alias("__nb"),
        )
        pairs = a.join(b, F.col("qid") != F.col("nid"))
    scored = pairs.select(
        "qid",
        "true_label",
        "nid",
        "nlabel",
        round_fixed(
            dot(F.col("__va"), F.col("__vb"))
            / F.sqrt(F.col("__na") * F.col("__nb")),
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("nid").asc()
    )
    nn = scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= k
    )
    votes = nn.groupBy("qid", "true_label", "nlabel").agg(
        F.count(F.lit(1)).alias("c")
    )
    pred = votes.groupBy("qid", "true_label").agg(
        F.max_by(
            "nlabel", F.col("c") * F.lit(4294967296) - F.col("nlabel")
        ).alias("pred_label")
    )
    # Coverage guard (ADVICE r9): under a candidate_fn, a query whose
    # probed cells hold no other vector produces NO pairs and would
    # silently vanish from its class's denominator. Left-joining pred
    # back to the FULL query population keeps every labeled vector in
    # n_vecs, counts uncovered queries as incorrect (NULL pred_label
    # never equals true_label), and surfaces the coverage drop as an
    # explicit n_uncovered column instead of a shrunken population.
    base = prep.select(
        F.col("vec_id").alias("qid"), F.col("label").alias("true_label")
    )
    covered = base.join(pred, ["qid", "true_label"], "left")
    return covered.groupBy(F.col("true_label").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum(
            F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_correct"),
        F.sum(F.when(F.col("pred_label").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_uncovered"),
        F.expr(
            "CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)"
            " * 1000000 div count(1) AS BIGINT)"
        ).alias("accuracy_e6"),
    )
