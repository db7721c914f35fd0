"""Similarity-search queries over ``embeddings`` + DuckDB oracles.

All cosine scores are rounded with the engine-independent fixed-point
form floor(x*1e6 + 0.5)/1e6 on BOTH engines (``round_fixed``) because
cos_sim feeds threshold predicates and rank ORDER BY keys — SQL round()
and Spark's BigDecimal-string round can disagree on a half-boundary
double. LSH/IVF bucketing is replayed exactly by the oracles (LCG plane
literals / lowest-id seeds); recall vs brute force is asserted in
tests/test_similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datamodel_clinicaldata_spark.operators.similarity import (
    cosine_neardup_pairs,
    cosine_topk_bruteforce,
    ivf_topk,
)
from datamodel_clinicaldata_spark.registry import register
from datamodel_clinicaldata_spark.sources.readers import read_table

# Engine-independent 6-dp rounding (floor(x*1e6 + 0.5)/1e6): cos_sim feeds
# threshold predicates and rank ORDER BY keys, where SQL round() vs Spark's
# BigDecimal-string round can flip a half-boundary value between engines —
# see functions/vectors.py:round_fixed.
_COS = (
    "floor(list_inner_product(a.v, b.v) / "
    "sqrt(list_inner_product(a.v, a.v) * list_inner_product(b.v, b.v)) "
    "* 1000000.0 + 0.5) / 1000000.0"
)


@register(
    "similarity_topk_bruteforce",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS vec_id, {_COS} AS cos_sim
      FROM (SELECT * FROM e WHERE vec_id < 5) a
      JOIN e b ON true
    )
    SELECT query_id, vec_id, cos_sim, rank FROM (
      SELECT query_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for query vectors vec_id < 5 over the corpus."""
    e = read_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk_bruteforce(e, queries, k=10)


@register(
    "similarity_neardup_exact",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_COS} AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE {_COS} >= 0.45
    """,
)
def similarity_neardup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs cosine ≥ 0.45 (threshold chosen to be non-trivial on
    the testdata distribution, max observed ≈ 0.51)."""
    e = read_table(spark, sf_dir, "embeddings")
    from datamodel_clinicaldata_spark.functions.vectors import (
        as_double,
        dot,
        round_fixed,
    )

    from datamodel_clinicaldata_spark.operators.partitioning import (
        ensure_min_parallelism,
    )

    # Hoisted norms: cast + self-dot once per ROW, not per PAIR — the
    # inline cosine() cost 3 folds + 2 casts per all-pairs row. The pair
    # expression dot/sqrt(na·nb) is cosine()'s exact IEEE sequence.
    # Measured (alternating A/B at sf0.1, 2000 vecs → 2M pairs): 87.3 s
    # → 17.4 s min. ensure_min_parallelism then spreads the BNLJ stream
    # side — the single-split bench scan otherwise runs every pair's
    # fold on ONE core (partitioning doctrine).
    side = ensure_min_parallelism(e).select(
        "vec_id", as_double(F.col("embedding")).alias("__v")
    ).withColumn("__n2", dot(F.col("__v"), F.col("__v")))
    a = side.select(
        F.col("vec_id").alias("id_a"),
        F.col("__v").alias("__va"),
        F.col("__n2").alias("__na"),
    )
    b = side.select(
        F.col("vec_id").alias("id_b"),
        F.col("__v").alias("__vb"),
        F.col("__n2").alias("__nb"),
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            round_fixed(
                dot(F.col("__va"), F.col("__vb"))
                / F.sqrt(F.col("__na") * F.col("__nb")),
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.45)
    )


# LSH table count of both registered near-dup queries; their oracles'
# plane literals (``_lsh_planes_sql``) are built for the same count.
_LSH_TABLES = 8


def _lsh_planes_sql(bits: int) -> str:
    """VALUES rows for the exact LCG hyperplanes the Spark query uses for
    ``_LSH_TABLES`` tables of ``bits`` planes
    (``_lcg_planes(_LSH_TABLES*bits, PLANE_DIM, LSH_PLANE_SEED)``;
    table = i//bits, bit weight = 2^(i%bits) — the same chunking as
    ``cosine_neardup_pairs``).
    Python float repr round-trips, so DuckDB parses bit-identical doubles
    and ``list_inner_product`` folds in the same order as ``dot`` — the
    sign of every plane projection agrees bitwise across engines."""
    from datamodel_clinicaldata_spark.operators.similarity import (
        LSH_PLANE_SEED,
        PLANE_DIM,
        _lcg_planes,
    )

    planes = _lcg_planes(_LSH_TABLES * bits, PLANE_DIM, LSH_PLANE_SEED)
    rows = []
    for i, p in enumerate(planes):
        arr = "[" + ", ".join(repr(x) for x in p) + "]::DOUBLE[]"
        rows.append(f"({i // bits}, {1 << (i % bits)}, {arr})")
    return ",\n      ".join(rows)


@register(
    "similarity_neardup_lsh",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE vec_id % 4 = 0),
    pl(tbl, wt, p) AS (VALUES
      {_lsh_planes_sql(4)}
    ),
    sb AS (
      SELECT e.vec_id, pl.tbl,
             CAST(sum(CASE WHEN list_inner_product(e.v, pl.p) >= 0
                           THEN pl.wt ELSE 0 END) AS BIGINT) AS bucket
      FROM e CROSS JOIN pl GROUP BY e.vec_id, pl.tbl
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sb a JOIN sb b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cos_sim FROM (
      SELECT c.id_a, c.id_b,
             floor(list_inner_product(x.v, y.v) /
                   sqrt(list_inner_product(x.v, x.v) * list_inner_product(y.v, y.v))
                   * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
      FROM cand c JOIN e x ON x.vec_id = c.id_a JOIN e y ON y.vec_id = c.id_b
    ) WHERE cos_sim >= 0.40
    """,
)
def similarity_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH-blocked cosine ≥ 0.40 pairs (the 100 TB path:
    bucketed self-join instead of all-pairs crossJoin). The synthetic
    embeddings are near-orthogonal — max cos ≈ 0.51 — so a production
    0.9 near-dup threshold would return an empty, untestable result.
    bits=4 × 8 tables; the planes are a deterministic LCG, so the
    oracle replays the EXACT bucketing (not just the verified pairs)
    from inlined plane literals.

    Bench interpretation: at these recall-driven parameters, blocking
    intentionally barely blocks — per-table collision for an unrelated
    pair is 2⁻⁴, so the 8-table union covers 1−(1−2⁻⁴)⁸ ≈ 40% of all
    pairs — this row exercises the recall regime's exact verify, not the
    production blocking regime. Since r10/r11 it runs on a DETERMINISTIC
    QUARTER-CORPUS SLICE (``vec_id % 4 = 0``; τ lowered 0.45 → 0.40 so
    every SF keeps non-trivial result rows under the driver's value
    gate; tables halved 16 → 8 because the per-table parsed plane
    expressions dominate ANALYSIS time at this corpus size): the
    full-corpus τ=0.45 16-table recall assertion lives in
    ``tests/test_similarity.py::test_neardup_lsh_recall`` and the
    full-corpus 64% candidate fraction is quantified by the bench JSON's
    ``lsh_candidates`` instrumentation, so spending ~3 s of headline
    verifying 64% of C(2000,2) pairs demonstrated nothing those two pins
    don't (VERDICT r9 #6, sized to ≤1.5 s per VERDICT r10 #5); the slice
    keeps the same operator/oracle pair at a sixteenth of the pair
    volume. ``similarity_neardup_lsh_prod`` is the production twin:
    clustered corpus, τ=0.9, bits=10 × 8 tables, candidates ≈ 1% of all
    pairs with the SAME operator. (Before r4 the plane generator had a
    sign bias — every component in [-1, 0) — that silently correlated
    all buckets; see ``_lcg_planes``. Candidate volumes now match
    theory.)"""
    e = read_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 4 == 0
    )
    return cosine_neardup_pairs(e, threshold=0.40, n_tables=_LSH_TABLES, bits=4)


def _clustered_corpus(e: DataFrame) -> DataFrame:
    """Deterministic near-dup corpus: the base embeddings (double-cast)
    plus, for every vector v_k with a successor, a synthetic twin
    t_k = v_k + 0.25·v_{k+1} under vec_id k+1,000,000. On the
    near-orthogonal testdata cos(v_k, t_k) ≈ 1/√1.0625 ≈ 0.970 — above a
    production 0.9 near-dup threshold — while every other pairing stays
    ≈ 0.24 or below, so the expected answer is exactly one pair per twin.
    The successor lookup is an equi-join on vec_id+1 (shuffle-parallel),
    NOT a global window sort; the blend is one fused zip_with projection.
    Both engines build the corpus from the same parquet doubles with the
    same single-op arithmetic, so it is bit-identical cross-engine."""
    base = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    nxt = base.select(
        (F.col("vec_id") - 1).alias("vec_id"), F.col("embedding").alias("__w")
    )
    twins = base.join(nxt, "vec_id").select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.zip_with(
            "embedding", "__w", lambda x, y: x + F.lit(0.25) * y
        ).alias("embedding"),
    )
    return base.unionByName(twins)


_PROD_CORPUS_SQL = """e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    tw AS (
      SELECT a.vec_id + 1000000 AS vec_id,
             list_transform(list_zip(a.v, b.v), s -> s[1] + 0.25 * s[2]) AS v
      FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
    ),
    c AS (SELECT vec_id, v FROM e UNION ALL SELECT vec_id, v FROM tw)"""


@register(
    "similarity_neardup_lsh_prod",
    f"""
    WITH {_PROD_CORPUS_SQL},
    pl(tbl, wt, p) AS (VALUES
      {_lsh_planes_sql(10)}
    ),
    sb AS (
      SELECT c.vec_id, pl.tbl,
             CAST(sum(CASE WHEN list_inner_product(c.v, pl.p) >= 0
                           THEN pl.wt ELSE 0 END) AS BIGINT) AS bucket
      FROM c CROSS JOIN pl GROUP BY c.vec_id, pl.tbl
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sb a JOIN sb b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cos_sim FROM (
      SELECT ca.id_a, ca.id_b,
             floor(list_inner_product(x.v, y.v) /
                   sqrt(list_inner_product(x.v, x.v) * list_inner_product(y.v, y.v))
                   * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
      FROM cand ca JOIN c x ON x.vec_id = ca.id_a JOIN c y ON y.vec_id = ca.id_b
    ) WHERE cos_sim >= 0.9
    """,
)
def similarity_neardup_lsh_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION LSH regime (verdict r3 #4): cosine ≥ 0.9 near-dup
    pairs over a clustered corpus (``_clustered_corpus`` — every vector
    plus a 0.97-cosine synthetic twin) with bits=10 × 8 tables, where
    blocking actually blocks. Expected candidate volume: an unrelated
    pair (cos ≈ 0) collides per table with prob 2^-10, so candidates ≈
    8/1024 ≈ 0.8% of all pairs — vs the recall-regime row
    (``similarity_neardup_lsh``) whose bench parameters verify ~64% of
    all pairs (0.6386 measured post the SplitMix64 plane fix, BENCH_r04
    ``lsh_candidates``). A twin pair (θ ≈ 14°) survives a table with prob
    (1−θ/π)^10 ≈ 0.44, so per-pair miss ≈ (1−0.44)^8 ≈ 0.9% — recall is
    pinned in tests/test_similarity.py; the LCG planes are replayed as
    SQL literals so the oracle checks the EXACT bucketing. Bench logs
    both rows' candidate counts (``lsh_candidate_stats``) so the
    headline demonstrates candidates ≪ all-pairs with the same operator.
    ``ensure_parallelism=False``: the corpus is post-shuffle (union of a
    scan and an equi-join), so the scan-only partition probe is skipped;
    instead the synthetic corpus is spread explicitly — AQE coalesces
    the tiny twin join to 1–2 partitions, which would serialize the
    80-plane bucketing projection (a production-size corpus arrives
    pre-partitioned and needs neither)."""
    from datamodel_clinicaldata_spark.operators.graph import truncate_lineage

    e = read_table(spark, sf_dir, "embeddings")
    # r13 pin (assignment-table doctrine, guide §2.4/§5): the synthetic
    # corpus (scan + successor equi-join + union + spread) feeds FOUR
    # consumers — both sides of the bucket self-join and both verify
    # sides — and the broadcast on the bucket join blocks exchange
    # reuse, so the plan recomputed it 4× (12 parquet scans / 11
    # exchanges in plans/r13/similarity_neardup_lsh_prod_before.txt).
    # Pinning the (vec_id, embedding) frame computes it once; every
    # consumer reads materialized rows. Results bit-identical (pure
    # materialization). Reliable-checkpoint doctrine applies.
    # Lazy pin: materialization rides the first consuming stage (no
    # blocking job); eager A/B at sf0.1 was slower than no pin.
    corpus = truncate_lineage(
        _clustered_corpus(e).repartition(spark.sparkContext.defaultParallelism),
        eager=False,
    )
    return cosine_neardup_pairs(
        corpus,
        threshold=0.9,
        n_tables=_LSH_TABLES,
        bits=10,
        ensure_parallelism=False,
    )


def lsh_candidate_stats(spark: SparkSession, sf_dir: str, name: str) -> dict:
    """Candidate-volume instrumentation for the two LSH bench rows:
    corpus size, distinct candidate pairs, all-pairs, and the fraction —
    the number that shows whether blocking blocks (logged into the bench
    JSON; see verdict r3 #4)."""
    from datamodel_clinicaldata_spark.operators.similarity import (
        neardup_candidate_pairs,
    )

    e = read_table(spark, sf_dir, "embeddings")
    if name == "similarity_neardup_lsh_prod":
        corpus = _clustered_corpus(e)
        cand = neardup_candidate_pairs(
            corpus, n_tables=_LSH_TABLES, bits=10, ensure_parallelism=False
        )
    else:
        corpus = e
        cand = neardup_candidate_pairs(corpus, n_tables=16, bits=4)
    n = corpus.count()
    pairs = cand.count()
    all_pairs = n * (n - 1) // 2
    return {
        "corpus": n,
        "candidate_pairs": pairs,
        "all_pairs": all_pairs,
        "candidate_fraction": round(pairs / all_pairs, 6) if all_pairs else 0.0,
    }


_IVF_COS_XQ = (
    "floor(list_inner_product(co.v, qp.qv) / "
    "sqrt(list_inner_product(co.v, co.v) * list_inner_product(qp.qv, qp.qv)) "
    "* 1000000.0 + 0.5) / 1000000.0"
)


@register(
    "similarity_ivf_topk",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    seeds AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
             v AS cvec
      FROM (SELECT * FROM e ORDER BY vec_id LIMIT 16)
    ),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, s.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_inner_product(e.v, s.cvec) /
                          sqrt(list_inner_product(e.v, e.v) *
                               list_inner_product(s.cvec, s.cvec)) DESC,
                          s.cid ASC
               ) AS rn
        FROM e CROSS JOIN seeds s
      ) WHERE rn = 1
    ),
    qprobe AS (
      SELECT query_id, qv, cid FROM (
        SELECT q.vec_id AS query_id, q.v AS qv, s.cid,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_inner_product(q.v, s.cvec) /
                          sqrt(list_inner_product(q.v, q.v) *
                               list_inner_product(s.cvec, s.cvec)) DESC,
                          s.cid ASC
               ) AS rn
        FROM (SELECT * FROM e WHERE vec_id < 5) q CROSS JOIN seeds s
      ) WHERE rn <= 4
    )
    SELECT query_id, vec_id, cos_sim, rank FROM (
      SELECT qp.query_id, a.vec_id, {_IVF_COS_XQ} AS cos_sim,
             row_number() OVER (
               PARTITION BY qp.query_id
               ORDER BY {_IVF_COS_XQ} DESC, a.vec_id ASC
             ) AS rank
      FROM qprobe qp
      JOIN assign a ON a.cid = qp.cid
      JOIN e co ON co.vec_id = a.vec_id
    ) WHERE rank <= 10
    """,
)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF two-stage ANN, nprobe=4 of 16 centroids, seeded from the 16
    lowest vec_ids (``seed_by='lowest'`` — SQL-expressible, so the oracle
    replays centroid assignment, probe selection, and in-bucket scoring
    exactly; cosine folds are bit-identical across engines). The
    Lloyd-refined seeding path (``refine_iters>0``) stays covered by
    tests/test_similarity.py recall assertions."""
    e = read_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(e, queries, nprobe=4, seed_by="lowest")


@register(
    "similarity_ivf_quantized_topk",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    seeds AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
             v AS cvec
      FROM (SELECT * FROM e ORDER BY vec_id LIMIT 16)
    ),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, s.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_inner_product(e.v, s.cvec) /
                          sqrt(list_inner_product(e.v, e.v) *
                               list_inner_product(s.cvec, s.cvec)) DESC,
                          s.cid ASC
               ) AS rn
        FROM e CROSS JOIN seeds s
      ) WHERE rn = 1
    ),
    qprobe AS (
      SELECT query_id, cid FROM (
        SELECT q.vec_id AS query_id, s.cid,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_inner_product(q.v, s.cvec) /
                          sqrt(list_inner_product(q.v, q.v) *
                               list_inner_product(s.cvec, s.cvec)) DESC,
                          s.cid ASC
               ) AS rn
        FROM (SELECT * FROM e WHERE vec_id < 5) q CROSS JOIN seeds s
      ) WHERE rn <= 4
    ),
    codes AS (
      SELECT vec_id,
             list_transform(
               embedding::DOUBLE[],
               x -> CAST(floor(x * (127.0 / greatest(
                      list_aggregate(list_transform(embedding::DOUBLE[],
                                                    y -> abs(y)), 'max'),
                      1e-12)) + 0.5) AS BIGINT)) AS code
      FROM embeddings
    ),
    scored AS (
      SELECT qp.query_id, a.vec_id,
             CAST(list_sum(list_transform(list_zip(cc.code, qc.code),
                                          s -> s[1] * s[2])) AS BIGINT) AS dot_q
      FROM qprobe qp
      JOIN assign a ON a.cid = qp.cid
      JOIN codes cc ON cc.vec_id = a.vec_id
      JOIN codes qc ON qc.vec_id = qp.query_id
    )
    SELECT query_id, vec_id, dot_q, rank FROM (
      SELECT query_id, vec_id, dot_q,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY dot_q DESC, vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def similarity_ivf_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-SQ (FAISS ``IVF,SQ8`` shape): IVF centroid pruning (nprobe=4
    of 16, lowest-id seeding) with int8-quantized INTEGER scoring in the
    probed buckets — 4× smaller stored codes, (1−nprobe/n)·scan pruned,
    and scores with zero float accumulation so the cross-engine check is
    exact end-to-end. Assignment/probing reuse the ``similarity_ivf_topk``
    oracle CTEs; scoring reuses the ``similarity_quantized_topk``
    quantization (incl. the r4 lesson: BIGINT cast on the oracle's
    ``list_sum`` — DuckDB returns HUGEINT, pandas would float64 it)."""
    from datamodel_clinicaldata_spark.operators.similarity import ivf_quantized_topk

    e = read_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_quantized_topk(e, queries)


@register(
    "embedding_norm_stats",
    """
    WITH n AS (
      SELECT label,
             sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x)))
               AS nrm
      FROM embeddings
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
           round(avg(nrm), 4) AS avg_norm,
           round(min(nrm), 4) AS min_norm,
           round(max(nrm), 4) AS max_norm
    FROM n GROUP BY label
    """,
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm profile of the embedding corpus (the sanity scan
    run before any cosine-based dedup: un-normalized vectors silently
    break cosine-threshold semantics). Fold order inside F.aggregate
    matches DuckDB's list_sum (array order), so the doubles agree
    bitwise before rounding."""
    from datamodel_clinicaldata_spark.functions.vectors import l2_norm

    e = read_table(spark, sf_dir, "embeddings")
    n = e.select("label", l2_norm(F.col("embedding")).alias("nrm"))
    return n.groupBy("label").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.round(F.avg("nrm"), 4).alias("avg_norm"),
        F.round(F.min("nrm"), 4).alias("min_norm"),
        F.round(F.max("nrm"), 4).alias("max_norm"),
    )


@register(
    "similarity_quantized_topk",
    """
    WITH codes AS (
      SELECT vec_id,
             list_transform(
               embedding::DOUBLE[],
               x -> CAST(floor(x * (127.0 / greatest(
                      list_aggregate(list_transform(embedding::DOUBLE[],
                                                    y -> abs(y)), 'max'),
                      1e-12)) + 0.5) AS BIGINT)) AS code
      FROM embeddings
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             -- DuckDB list_sum over BIGINT[] returns HUGEINT, which pandas
             -- materializes as float64 ("205138.0") and the driver's value
             -- hash then disagrees with Spark's int64 — CAST back to BIGINT.
             CAST(list_sum(list_transform(list_zip(c.code, q.code),
                                          s -> s[1] * s[2])) AS BIGINT) AS dot_q
      FROM (SELECT * FROM codes WHERE vec_id < 5) q
      JOIN codes c ON true
    )
    SELECT query_id, vec_id, dot_q, rank FROM (
      SELECT query_id, vec_id, dot_q,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY dot_q DESC, vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def similarity_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric quantization + exact integer-dot top-10 for query
    vectors vec_id < 5 — the quantized ANN baseline. Integer scores make
    the cross-engine check exact (zero float tolerance); the only float
    step, floor(v·scale + 0.5), is the same IEEE double expression on
    both engines (``round`` is NOT — Spark rounds via BigDecimal string
    rendering, DuckDB on the raw binary double; see
    functions/vectors.py:quantize_int8)."""
    from datamodel_clinicaldata_spark.operators.similarity import quantized_topk

    e = read_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return quantized_topk(e, queries)


def _proj_planes_sql() -> str:
    """DOUBLE[][] literal of the exact SplitMix64 projection planes the
    Spark cascade uses (repr round-trip → bit-identical doubles)."""
    from datamodel_clinicaldata_spark.operators.similarity import (
        PLANE_DIM,
        PROJ_DIM,
        PROJ_PLANE_SEED,
        _lcg_planes,
    )

    planes = _lcg_planes(PROJ_DIM, PLANE_DIM, PROJ_PLANE_SEED)
    return (
        "["
        + ", ".join("[" + ", ".join(repr(x) for x in p) + "]::DOUBLE[]" for p in planes)
        + "]"
    )


@register(
    "similarity_projection_rerank",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    pe AS (
      SELECT vec_id, v,
             list_transform({_proj_planes_sql()}, pl -> list_inner_product(v, pl)) AS pv
      FROM e
    ),
    coarse AS (
      SELECT q.vec_id AS query_id, c.vec_id,
             floor(list_inner_product(c.pv, q.pv) /
                   sqrt(list_inner_product(c.pv, c.pv) *
                        list_inner_product(q.pv, q.pv))
                   * 1000000.0 + 0.5) / 1000000.0 AS coarse_sim
      FROM (SELECT * FROM pe WHERE vec_id < 5) q JOIN pe c ON true
    ),
    cand AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY coarse_sim DESC, vec_id ASC) AS r
        FROM coarse) WHERE r <= 200
    ),
    rer AS (
      SELECT cand.query_id, cand.vec_id,
             floor(list_inner_product(x.v, qv.v) /
                   sqrt(list_inner_product(x.v, x.v) *
                        list_inner_product(qv.v, qv.v))
                   * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
      FROM cand JOIN e x ON x.vec_id = cand.vec_id
                JOIN e qv ON qv.vec_id = cand.query_id
    )
    SELECT query_id, vec_id, cos_sim, rank FROM (
      SELECT query_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id ASC) AS rank
      FROM rer) WHERE rank <= 10
    """,
)
def similarity_projection_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse-then-refine ANN: Johnson-Lindenstrauss random projection
    (64 → 32 dims, deterministic SplitMix64 planes) ranks a top-200
    candidate set per query in the cheap projected space; exact
    full-dimension cosine reranks to top-10. Parameters are sized for the
    adversarial near-orthogonal synthetic corpus (recall@10 = 0.72 at
    sf0.1 while the rerank touches 4% of the corpus); a clustered
    production corpus needs far less of both. The oracle replays the
    identical cascade, so this is hash-exact despite being an
    approximate-search strategy. See
    ``operators.similarity.projection_topk_rerank`` for the scale shape
    (projected-column scan + broadcast candidate fetch, no corpus
    shuffle); recall vs brute force is pinned in tests/test_similarity.py."""
    from datamodel_clinicaldata_spark.operators.similarity import (
        projection_topk_rerank,
    )

    e = read_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return projection_topk_rerank(e, queries)


@register(
    "similarity_contrastive_triplets",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    a AS (SELECT vec_id AS anchor_id, label AS ql, v AS qv FROM e WHERE vec_id < 20),
    scored AS (
      SELECT a.anchor_id, c.vec_id, (c.label = a.ql) AS same,
             floor(list_inner_product(c.v, a.qv) /
                   sqrt(list_inner_product(c.v, c.v) *
                        list_inner_product(a.qv, a.qv))
                   * 1000000.0 + 0.5) / 1000000.0 AS sim
      FROM a JOIN e c ON c.vec_id <> a.anchor_id
    ), best AS (
      SELECT anchor_id, vec_id, same, sim,
             row_number() OVER (PARTITION BY anchor_id, same
                                ORDER BY sim DESC, vec_id ASC) AS r
      FROM scored
    )
    SELECT p.anchor_id, p.vec_id AS pos_id, p.sim AS pos_sim,
           n.vec_id AS neg_id, n.sim AS neg_sim,
           floor((p.sim - n.sim) * 1000000.0 + 0.5) / 1000000.0 AS margin
    FROM best p JOIN best n ON p.anchor_id = n.anchor_id
    WHERE p.same AND p.r = 1 AND (NOT n.same) AND n.r = 1
    """,
)
def similarity_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor
    (vec_id < 20), the most-similar same-label vector (positive), the
    most-similar different-label vector (the hard negative) and the
    margin between them — the triplet selection step of every
    metric-learning data pipeline. See
    ``operators.similarity.contrastive_triplets`` for the broadcast +
    two-phase-rank scale shape."""
    from datamodel_clinicaldata_spark.operators.similarity import (
        contrastive_triplets,
    )

    e = read_table(spark, sf_dir, "embeddings")
    anchors = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("anchor_id"), "embedding", "label"
    )
    return contrastive_triplets(e, anchors)


_MMR_COS = (
    "floor(list_inner_product(a.v, b.v) / "
    "sqrt(list_inner_product(a.v, a.v) * list_inner_product(b.v, b.v)) "
    "* 1000000.0 + 0.5)"
)


@register(
    "similarity_mmr_rerank",
    f"""
    WITH RECURSIVE e AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), cand AS MATERIALIZED (
      SELECT vec_id, simq_e6 FROM (
        SELECT b.vec_id, CAST({_MMR_COS} AS BIGINT) AS simq_e6,
               row_number() OVER (ORDER BY {_MMR_COS} DESC, b.vec_id ASC) AS rn
        FROM (SELECT v FROM e WHERE vec_id = 0) a JOIN e b ON true
      ) WHERE rn <= 20
    ), cv AS MATERIALIZED (
      SELECT c.vec_id, c.simq_e6, e.v FROM cand c JOIN e ON e.vec_id = c.vec_id
    ), sims AS MATERIALIZED (
      SELECT a.vec_id AS ia, b.vec_id AS ib, CAST({_MMR_COS} AS BIGINT) AS sim_e6
      FROM cv a JOIN cv b ON a.vec_id <> b.vec_id
    ), sel AS (
      SELECT CAST(1 AS BIGINT) AS rank, picked, pick, simq_e6, mmr_score_e6 FROM (
        SELECT [vec_id] AS picked, vec_id AS pick, simq_e6,
               7 * simq_e6 AS mmr_score_e6,
               row_number() OVER (ORDER BY simq_e6 DESC, vec_id ASC) AS rn
        FROM cand) WHERE rn = 1
      UNION ALL
      SELECT rank + 1, list_append(picked, pick2), pick2, simq2, score2 FROM (
        SELECT *, row_number() OVER (ORDER BY score2 DESC, pick2 ASC) AS rn2 FROM (
          SELECT sel.rank, sel.picked, c.vec_id AS pick2, c.simq_e6 AS simq2,
                 7*c.simq_e6 - 3*coalesce((
                   SELECT max(s.sim_e6) FROM sims s
                   WHERE s.ia = c.vec_id AND list_contains(sel.picked, s.ib)), 0)
                   AS score2
          FROM sel, cand c
          WHERE sel.rank < 5 AND NOT list_contains(sel.picked, c.vec_id)
        )
      ) WHERE rn2 = 1
    )
    SELECT rank, pick AS vec_id, simq_e6, mmr_score_e6 FROM sel
    """,
)
def similarity_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance rerank (λ = 0.7): from the exact
    cosine top-20 for query vec 0, greedily select 5 results maximizing
    ``7·sim(q,c) − 3·max_{s∈selected} sim(c,s)`` — the standard
    diversity-aware retrieval pass a training-data curation pipeline
    runs after ANN (don't fill the context with five near-copies of the
    best hit). Scale shape: the candidate generation is the distributed
    two-phase brute-force top-k; the greedy runs on the driver over a
    BOUNDED k×N integer matrix (N = 20 candidates, 400 pair sims — the
    same bounded-pullback doctrine as the IVF centroid collects). All
    similarities are e6-quantized BIGINTs before any comparison, so the
    greedy's argmax (ties to the smaller vec_id) is engine-exact; the
    oracle replays the identical selection as a recursive CTE."""
    from datamodel_clinicaldata_spark.functions.vectors import cosine

    e = read_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), "embedding"
    )
    cand = cosine_topk_bruteforce(e, q, k=20).select(
        "vec_id", F.floor(F.col("cos_sim") * 1e6 + F.lit(0.5)).cast("long").alias("simq_e6")
    )
    cv = cand.join(e, "vec_id").select("vec_id", "simq_e6", "embedding")
    a = cv.select(
        F.col("vec_id").alias("ia"), F.col("embedding").alias("__va")
    )
    b = cv.select(
        F.col("vec_id").alias("ib"), F.col("embedding").alias("__vb")
    )
    sims = a.join(b, F.col("ia") != F.col("ib")).select(
        "ia",
        "ib",
        F.floor(cosine(F.col("__va"), F.col("__vb")) * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("sim_e6"),
    )
    # bounded pullbacks: ≤20 candidate rows, ≤380 pair rows — the greedy
    # itself is O(k·N) integer arithmetic, inherently tiny
    cand_rows = {r["vec_id"]: r["simq_e6"] for r in cand.collect()}
    sim_rows = {(r["ia"], r["ib"]): r["sim_e6"] for r in sims.collect()}

    picked: list[tuple[int, int, int, int]] = []  # (rank, vec_id, simq, score)
    chosen: list[int] = []
    for step in range(1, 6):
        best = None
        for cid, simq in cand_rows.items():
            if cid in chosen:
                continue
            div = max(
                (sim_rows[(cid, s)] for s in chosen if (cid, s) in sim_rows),
                default=0,
            )
            score = 7 * simq - 3 * div
            key = (-score, cid)
            if best is None or key < best[0]:
                best = (key, cid, simq, score)
        if best is None:
            break
        picked.append((step, best[1], best[2], best[3]))
        chosen.append(best[1])
    return spark.createDataFrame(
        picked, "rank long, vec_id long, simq_e6 long, mmr_score_e6 long"
    )


def _eig_oracle() -> str:
    """Unrolled 3-step power-iteration oracle. Each step is the same
    stanza: exact-integer dot products (per-term floor before the sum),
    exact HUGEINT norm-square, then the one fixed-shape double
    expression w/sqrt(n2)*1e6 quantized back to BIGINT."""
    step = """
    d{t} AS (
      SELECT e.v,
             CAST(list_sum(list_transform(range(1, 65),
                  j -> CAST(floor(e.v[j] * vl[j] + 0.5) AS BIGINT)))
                  AS BIGINT) AS d
      FROM e CROSS JOIN v{p}
    ), w{t} AS (
      SELECT j,
             CAST(sum(CAST(floor(d * v[j] + 0.5) AS BIGINT)) AS BIGINT) AS w
      FROM d{t} CROSS JOIN unnest(range(1, 65)) AS t(j) GROUP BY j
    ), n{t} AS (
      SELECT CAST(sum(CAST(w AS HUGEINT) * w) AS HUGEINT) AS n2 FROM w{t}
    )"""
    nxt = """
    , v{t} AS (
      SELECT list(CAST(floor(w / sqrt(CAST(n2 AS DOUBLE)) * 1000000 + 0.5)
                       AS BIGINT) ORDER BY j) AS vl
      FROM w{t} CROSS JOIN n{t}
    )"""
    sql = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    v0 AS (SELECT list_transform(range(1, 65),
                                 j -> CAST(1000000 AS BIGINT)) AS vl),"""
    for t in (1, 2, 3):
        sql += step.format(t=t, p=t - 1) + (
            nxt.format(t=t) if t < 3 else ""
        ) + ("," if t < 3 else "")
    sql += """
    SELECT CAST(j AS BIGINT) AS dim,
           CAST(floor(w / sqrt(CAST(n2 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
             AS v_e6
    FROM w3 CROSS JOIN n3
    """
    return sql


@register("embedding_top_eigenvector", _eig_oracle())
def embedding_top_eigenvector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding cloud by distributed
    power iteration — the X^T(Xv) step every large-scale PCA/spectral
    pipeline runs: 3 fixed iterations from the all-ones seed over the
    64-d vectors. Engine-exact iterative numerics by fixed-point
    doctrine at EVERY cross-row boundary: dot products quantize per
    term (float×int products up to ~2^52 are exactly representable, so
    floor is deterministic) and sum as BIGINT (order-insensitive); the
    norm-square accumulates exactly in DECIMAL(38,0)/HUGEINT; the only
    float op is the one fixed-shape w/sqrt(n2)·1e6 renormalization,
    identical IEEE arithmetic on both engines before re-quantizing.

    Scale shape: each iteration is one scan + a 64-group map-side
    combined aggregate (posexplode ×64, never a |rows|² gram matrix);
    the first two 64-value iterates are bounded driver pullbacks (the
    documented centroid doctrine — 64 longs, not data), and the FINAL
    iteration stays entirely in-plan: norm as a 1-row broadcast
    cross-join, no action between read and return."""
    import math

    from datamodel_clinicaldata_spark.operators.partitioning import (
        ensure_min_parallelism,
    )

    # Bare-scan spread (partitioning doctrine): each iteration's per-row
    # work is a 64-term dot + 64-way posexplode — single-task on a
    # one-split bench file without this; no-op on a many-split scan.
    # r14 (verdict r13 #9, §5 pin doctrine): the matrix feeds THREE
    # consumers (two bounded 64-row collects + the final in-plan
    # iteration) — pin it once so each iteration reads the materialized
    # blocks instead of re-running scan + spread (plan: 3 parquet scans
    # → 1; same localCheckpoint-inside-one-execution device as
    # semdedup/lsh_prod, upgraded to durable checkpoint fleet-wide by
    # SPARK_GRAFT_CHECKPOINT=reliable).
    from datamodel_clinicaldata_spark.operators.graph import truncate_lineage

    emb = truncate_lineage(
        ensure_min_parallelism(read_table(spark, sf_dir, "embeddings"))
    )
    dims = 64

    def w_frame(v: list[int]) -> DataFrame:
        # The iterate travels as DATA (a broadcast 1-row array frame),
        # not as 64 literals baked into the expression tree: every
        # iteration then compiles to the IDENTICAL generated code, so
        # codegen caches across iterations — the measured per-iteration
        # cost drops from ~1 s (fresh 64-term codegen compile each
        # round) to ~0.1 s of actual vector math. Arithmetic is
        # term-for-term the literal version: x·v_j in double (v_j is an
        # exact e6-scale integer ≤ 2^52, so the product floor is
        # deterministic), per-term floor to BIGINT, exact integer sum.
        vdf = spark.createDataFrame([(v,)], "vl array<bigint>")
        d = emb.crossJoin(F.broadcast(vdf)).select(
            F.aggregate(
                F.zip_with(
                    F.col("embedding").cast("array<double>"),
                    F.col("vl"),
                    lambda x, c: F.floor(x * c.cast("double") + F.lit(0.5)).cast(
                        "long"
                    ),
                ),
                F.lit(0).cast("long"),
                lambda a, t: a + t,
            ).alias("d"),
            "embedding",
        )
        return (
            d.select("d", F.posexplode("embedding").alias("pos", "x"))
            .groupBy("pos")
            .agg(
                F.sum(
                    F.floor(F.col("d") * F.col("x").cast("double") + F.lit(0.5))
                    .cast("long")
                )
                .cast("long")
                .alias("w")
            )
        )

    v = [1_000_000] * dims
    for _ in range(2):
        rows = {r["pos"]: r["w"] for r in w_frame(v).collect()}
        w = [rows[p] for p in range(dims)]
        norm2 = sum(x * x for x in w)  # exact Python int
        nrm = math.sqrt(float(norm2))
        v = [math.floor(x / nrm * 1_000_000 + 0.5) for x in w]

    w3 = w_frame(v)
    n3 = w3.agg(
        F.sum(F.col("w").cast("decimal(38,0)") * F.col("w")).alias("n2")
    )
    return w3.crossJoin(F.broadcast(n3)).select(
        (F.col("pos") + 1).cast("long").alias("dim"),
        F.floor(
            F.col("w").cast("double")
            / F.sqrt(F.col("n2").cast("double"))
            * 1_000_000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("v_e6"),
    )


@register(
    "diag_corr_embedding_length",
    """
    WITH x AS (
      SELECT vec_id,
             CAST(list_sum(list_transform(embedding::DOUBLE[],
                  t -> CAST(floor(t * t * 1000000 + 0.5) AS BIGINT)))
                  AS BIGINT) AS x
      FROM embeddings
    ), y AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS y
      FROM documents
    ), j AS (
      SELECT x.x, y.y FROM x JOIN y ON y.doc_id = x.vec_id
    ), s AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
      FROM j
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(floor(
             CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE))
             * 1000000 + 0.5) AS BIGINT) AS corr_e6
    FROM s
    """,
)
def diag_corr_embedding_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between a document's embedding energy
    (squared L2 norm) and its token count — the embedding-sanity screen
    for "is this encoder just measuring length?" (a high correlation
    flags degenerate embeddings before they poison similarity dedup).
    Exact-moments doctrine: per-dimension energies quantize to e6
    BIGINT before any cross-row sum; the five moment sums accumulate
    exactly (DECIMAL(38,0)/HUGEINT where squares exceed int64); the
    correlation itself is ONE fixed-shape double expression over exact
    integers, quantized to e6 — so the only float arithmetic is
    bit-identical on both engines. Plan: two narrow scans, one 1:1
    equi-join on the id, one 1-row aggregate — the moments combine
    map-side, nothing is ever centered row-by-row (the textbook
    numerically-unstable two-pass mean-subtraction is unnecessary when
    the moments are exact integers)."""
    emb = read_table(spark, sf_dir, "embeddings")
    docs = read_table(spark, sf_dir, "documents")
    x = emb.select(
        F.col("vec_id").alias("doc_id"),
        F.aggregate(
            F.transform(
                F.col("embedding"),
                lambda t: F.floor(
                    t.cast("double") * t.cast("double") * 1_000_000
                    + F.lit(0.5)
                ).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        ).alias("x"),
    )
    y = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("y"),
    )
    j = x.join(y, "doc_id")
    dec = "decimal(38,0)"
    s = j.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return s.select(
        F.col("n").cast("long").alias("n_docs"),
        F.floor(num / den * 1_000_000 + F.lit(0.5)).cast("long").alias("corr_e6"),
    )


_SEMDEDUP_ASSIGN = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    seeds AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
             v AS cvec
      FROM (SELECT * FROM e ORDER BY vec_id LIMIT 16)
    ),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, s.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_inner_product(e.v, s.cvec) /
                          sqrt(list_inner_product(e.v, e.v) *
                               list_inner_product(s.cvec, s.cvec)) DESC,
                          s.cid ASC
               ) AS rn
        FROM e CROSS JOIN seeds s
      ) WHERE rn = 1
    )"""


@register(
    "dedup_semantic_semdedup",
    f"""
    {_SEMDEDUP_ASSIGN},
    pairs AS (
      SELECT x.cid, x.vec_id AS id_a, y.vec_id AS id_b,
             floor(list_inner_product(va.v, vb.v) /
                   sqrt(list_inner_product(va.v, va.v) *
                        list_inner_product(vb.v, vb.v))
                   * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
      FROM assign x JOIN assign y ON x.cid = y.cid AND x.vec_id < y.vec_id
      JOIN e va ON va.vec_id = x.vec_id
      JOIN e vb ON vb.vec_id = y.vec_id
    )
    SELECT id_b AS vec_id,
           CAST(cid AS INTEGER) AS cid,
           CAST(min(id_a) AS BIGINT) AS keeper_id,
           CAST(count(*) AS BIGINT) AS n_dup_neighbors,
           max(cos_sim) AS max_cos
    FROM pairs WHERE cos_sim >= 0.40
    GROUP BY id_b, cid
    """,
)
def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings and comparing pairs ONLY
    within a cluster — the step that makes embedding-level dedup
    feasible when all-pairs cosine is quadratic. A vector is dropped
    when a same-cluster neighbor with a SMALLER id has cosine ≥ 0.40
    (greedy keep-lowest-id, fully deterministic; the paper keeps the
    lowest-similarity-to-centroid copy — same mechanism, different
    tie-break). Output = one row per dropped vector with its cluster,
    its keeper (min qualifying smaller id), how many qualifying
    neighbors it had, and the max (quantized) cosine among them.

    Engine-independence: centroid seeding is the SQL-expressible
    lowest-16-ids scheme shared with ``similarity_ivf_topk`` (whose
    oracle replays assignment exactly — argmax over raw-double cosine
    with cid tie-break folds bit-identically on both engines); pair
    cosines are ``round_fixed`` e6 BEFORE the >= 0.40 predicate.
    Threshold 0.40 was chosen against this corpus's near-orthogonal
    distribution (19/11/185 qualifying pairs at sf0.001/0.01/0.1), so
    both the drop rule and the keeper argmin are exercised.

    Scale shape: assignment is a broadcast argmin (centroids travel,
    data does not — one narrow projection per row); the pairwise stage
    shuffles once on cid and is bounded by Σ|cluster|² instead of N².
    At 100 TB the cluster count grows as ~sqrt(N) (the paper uses 11k
    clusters for LAION) so per-cluster populations stay bounded;
    within-cluster candidate fraction here is ~6% of all-pairs. A
    pathologically hot cluster is the one skew risk — the same cap
    doctrine as the LSH bucket join (cap + log) applies; at bench
    scale the 16-cluster join is measured directly."""
    from datamodel_clinicaldata_spark.functions.vectors import round_fixed
    from datamodel_clinicaldata_spark.operators.partitioning import (
        ensure_min_parallelism,
    )
    from datamodel_clinicaldata_spark.operators.similarity import (
        _centroid_array_expr_n2,
        nearest_scored,
    )

    # Bare-scan parallelism spread (partitioning doctrine): the per-row
    # work downstream is 64-d vector math — on a single-split bench file
    # the assignment AND the within-cluster pair dots would otherwise run
    # in ONE task (AQE broadcast-joins the tiny side and coalesces the
    # rest, so nothing re-spreads later). No-op on a many-split scan.
    e = ensure_min_parallelism(read_table(spark, sf_dir, "embeddings"))
    sampled = e.orderBy("vec_id").limit(16).select("embedding").collect()
    cent = _centroid_array_expr_n2(
        [list(map(float, r["embedding"])) for r in sampled]
    )

    # Norm hoist (anchor-norm doctrine), now through the WHOLE pipeline:
    # the double cast and self-dot happen once per vector and feed BOTH
    # the 16-centroid assignment (previously 3 folds + a re-cast per
    # centroid via inline cosine) and the within-cluster pair cosines.
    # nearest_scored's dot/sqrt(n2·cn2) is the identical IEEE sequence
    # as the inline form, so cid and the e6 cosines are bit-unchanged.
    from datamodel_clinicaldata_spark.functions.vectors import as_double, dot
    from datamodel_clinicaldata_spark.operators.graph import truncate_lineage

    ad = (
        e.select("vec_id", as_double(F.col("embedding")).alias("__v"))
        .withColumn("__n", dot(F.col("__v"), F.col("__v")))
        .select(
            "vec_id",
            nearest_scored(F.col("__v"), F.col("__n"), cent)[0]["cid"]
            .cast("int")
            .alias("cid"),
            "__v",
            "__n",
        )
    )
    # r13 pin (assignment-table doctrine, same as ivf_pair_candidates):
    # BOTH sides of the cid self-join consume `ad`, and the 16-centroid
    # scoring + sort + self-dot sit ABOVE the reused scan exchange, so
    # each side re-ran them — 2× the per-row assignment work. Pinning the
    # narrow (id, cid, __v, __n) frame computes assignment once; the
    # cluster-pair stage reads materialized rows. Measured A/B alternated
    # at sf0.1: ~2.1-3.2 s → ~1.1-2.2 s (each adjacent pair faster);
    # results bit-identical. Reliable-checkpoint doctrine applies via
    # truncate_lineage.
    ad = truncate_lineage(ad)
    a = ad.alias("la").select(
        F.col("la.cid").alias("cid"),
        F.col("la.vec_id").alias("id_a"),
        F.col("la.__v").alias("__va"),
        F.col("la.__n").alias("__na"),
    )
    b = ad.alias("lb").select(
        F.col("lb.cid").alias("cid"),
        F.col("lb.vec_id").alias("id_b"),
        F.col("lb.__v").alias("__vb"),
        F.col("lb.__n").alias("__nb"),
    )
    pairs = (
        a.join(b, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "cid",
            "id_a",
            "id_b",
            round_fixed(
                dot(F.col("__va"), F.col("__vb"))
                / F.sqrt(F.col("__na") * F.col("__nb")),
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.40)
    )
    return (
        pairs.groupBy("id_b", "cid")
        .agg(
            F.min("id_a").cast("long").alias("keeper_id"),
            F.count(F.lit(1)).cast("long").alias("n_dup_neighbors"),
            F.max("cos_sim").alias("max_cos"),
        )
        .select(
            F.col("id_b").alias("vec_id"),
            "cid",
            "keeper_id",
            "n_dup_neighbors",
            "max_cos",
        )
    )


@register(
    "similarity_kmeans_lloyd_step",
    f"""
    {_SEMDEDUP_ASSIGN},
    comp AS (
      SELECT a.cid, j AS pos,
             CAST(sum(CAST(floor(e.v[j] * 1000000 + 0.5) AS BIGINT))
                  AS BIGINT) AS s_e6,
             CAST(count(*) AS BIGINT) AS n
      FROM assign a JOIN e ON e.vec_id = a.vec_id
      CROSS JOIN unnest(range(1, 65)) AS t(j)
      GROUP BY 1, 2
    ),
    newc AS (SELECT cid, pos, s_e6 // n AS c_e6, n FROM comp),
    seedc AS (
      SELECT s.cid, j AS pos,
             CAST(floor(s.cvec[j] * 1000000 + 0.5) AS BIGINT) AS seed_e6
      FROM seeds s CROSS JOIN unnest(range(1, 65)) AS t(j)
    )
    SELECT CAST(newc.cid AS INTEGER) AS cid,
           CAST(any_value(newc.n) AS BIGINT) AS n_members,
           CAST(sum((newc.c_e6 - seedc.seed_e6)
                    * (newc.c_e6 - seedc.seed_e6)) AS BIGINT) AS shift_e12
    FROM newc JOIN seedc ON seedc.cid = newc.cid AND seedc.pos = newc.pos
    GROUP BY 1
    """,
)
def similarity_kmeans_lloyd_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration under the oracle gate: assign every embedding
    to its nearest seed centroid (the SQL-replayable lowest-16-ids
    scheme shared with SemDeDup/IVF), recompute each cell's mean, and
    report HOW FAR every centroid moved — the convergence diagnostic a
    clustering pipeline watches to decide when to stop iterating. The
    operator twin (``kmeans_refine``) keeps float means for IVF seeding;
    THIS row pins the step cross-engine by fixed-point doctrine: each
    component quantizes to e6 BEFORE the sum (exact BIGINT, order-
    insensitive), the mean is integral ``div`` (Spark div ≡ DuckDB //,
    both truncate — verified on negatives), and the movement is the
    exact integer squared-e6 L2 between new and seed centroids.

    Scale shape: assignment is the broadcast argmin projection (data
    never moves); the mean is a (cid, pos)-keyed map-side-combined
    aggregate — shuffle rows ≈ partitions × k × dim, never a cluster's
    vectors in one row; the seed-component dim (k×64 rows) broadcasts
    onto the result."""
    from datamodel_clinicaldata_spark.operators.partitioning import (
        ensure_min_parallelism,
    )
    from datamodel_clinicaldata_spark.operators.similarity import (
        _centroid_array_expr_n2,
        nearest_scored,
    )
    from datamodel_clinicaldata_spark.functions.vectors import dot

    e = ensure_min_parallelism(read_table(spark, sf_dir, "embeddings"))
    sampled = e.orderBy("vec_id").limit(16).select("embedding").collect()
    seeds = [list(map(float, r["embedding"])) for r in sampled]
    # Hoisted-norm assignment (nearest_scored doctrine) — cid and every
    # downstream fixed-point sum are bit-unchanged.
    cent = _centroid_array_expr_n2(seeds)

    assigned = (
        e.select(F.col("embedding").cast("array<double>").alias("__v"))
        .withColumn("__n2", dot(F.col("__v"), F.col("__v")))
        .select(
            nearest_scored(F.col("__v"), F.col("__n2"), cent)[0]["cid"]
            .cast("int")
            .alias("cid"),
            "__v",
        )
    )
    comp = (
        assigned.select("cid", F.posexplode("__v").alias("pos0", "x"))
        .groupBy("cid", (F.col("pos0") + 1).alias("pos"))
        .agg(
            F.sum(
                F.floor(F.col("x") * 1_000_000 + F.lit(0.5)).cast("long")
            )
            .cast("long")
            .alias("s_e6"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    newc = comp.select(
        "cid", "pos", F.expr("s_e6 div n").alias("c_e6"), "n"
    )
    import math

    seed_rows = [
        (cid, pos + 1, int(math.floor(v * 1_000_000 + 0.5)))
        for cid, vec in enumerate(seeds)
        for pos, v in enumerate(vec)
    ]
    seedc = spark.createDataFrame(
        seed_rows, "cid int, pos int, seed_e6 long"
    )
    j = newc.join(F.broadcast(seedc), ["cid", "pos"])
    d = F.col("c_e6") - F.col("seed_e6")
    return j.groupBy("cid").agg(
        F.max("n").cast("long").alias("n_members"),
        F.sum(d * d).cast("long").alias("shift_e12"),
    )


@register(
    "eval_knn_label_accuracy",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label,
                      list_inner_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[]) AS n2
               FROM embeddings),
    params AS (
      SELECT least(4096, greatest(16, CAST(floor(sqrt(count(*))) AS INTEGER)))
               AS n_c
      FROM e
    ),
    seeds AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
             v AS cvec
      FROM (SELECT * FROM e ORDER BY vec_id LIMIT (SELECT n_c FROM params))
    ),
    ranked AS (
      SELECT e.vec_id, s.cid,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_inner_product(e.v, s.cvec) /
                        sqrt(list_inner_product(e.v, e.v) *
                             list_inner_product(s.cvec, s.cvec)) DESC,
                        s.cid ASC
             ) AS rn
      FROM e CROSS JOIN seeds s
    ),
    assign AS (SELECT vec_id, cid FROM ranked WHERE rn = 1),
    probe AS (SELECT vec_id, cid FROM ranked
              WHERE rn <= (SELECT greatest(4, n_c // 8) FROM params)),
    scored AS (
      SELECT a.vec_id AS qid, a.label AS true_label, b.vec_id AS nid,
             b.label AS nlabel,
             floor(list_inner_product(a.v, b.v) / sqrt(a.n2 * b.n2)
                   * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
      FROM probe p
      JOIN assign ba ON ba.cid = p.cid AND ba.vec_id <> p.vec_id
      JOIN e a ON a.vec_id = p.vec_id
      JOIN e b ON b.vec_id = ba.vec_id
    ), nn AS (
      SELECT qid, true_label, nlabel FROM (
        SELECT qid, true_label, nlabel,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cos_sim DESC, nid ASC) AS rnk
        FROM scored
      ) WHERE rnk <= 5
    ), votes AS (
      SELECT qid, true_label, nlabel, count(*) AS c
      FROM nn GROUP BY 1, 2, 3
    ), pred AS (
      SELECT qid, true_label,
             arg_max(nlabel, c * 4294967296 - nlabel) AS pred_label
      FROM votes GROUP BY 1, 2
    ), covered AS (
      SELECT e.vec_id AS qid, e.label AS true_label, p.pred_label
      FROM e LEFT JOIN pred p ON p.qid = e.vec_id
    )
    SELECT true_label AS label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(sum(CASE WHEN pred_label IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_uncovered,
           CAST((sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                 * 1000000) // count(*) AS BIGINT) AS accuracy_e6
    FROM covered GROUP BY 1
    """,
)
def eval_knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 5-NN label accuracy over the labeled embedding set —
    the standard intrinsic eval for embedding quality (does cosine
    neighborhood structure predict the label?), published per class so a
    weak class is visible instead of averaged away. Majority vote over
    the 5 nearest neighbours (cosine at the family's shared 6-dp fixed
    rounding; rank ties broken by vec_id, vote ties by max count then
    MIN label via one exact-integer ``max_by`` key, sound over the full
    int32 label domain — see ``knn_label_accuracy``). Accuracy is an
    integral e6 quotient.

    Neighbor generation runs the CORPUS-SCALE candidate path:
    ``ivf_pair_candidates`` under its DYNAMIC sizing — n_centroids =
    clamp(16, ⌊√N⌋, 4096) cells seeded from the lowest vec_ids, nprobe
    = max(4, n_centroids // 8) — a cid hash join, never a pair BNLJ.
    The oracle replays sizing, bucketing, probing, and scoring exactly
    (a ``params`` CTE computes the same clamp; IEEE sqrt is correctly
    rounded, so ⌊√N⌋ agrees across engines; same lowest-id seeding
    scheme as ``similarity_ivf_topk``). Queries whose probed cells hold
    no other vector stay in the population: a left join back to the
    labeled set counts them as incorrect and reports them in
    ``n_uncovered`` (coverage can drop silently otherwise — ADVICE r9).
    The guarded exact brute-force path (``candidate_fn=None``) stays
    available on the operator and is pinned against this ANN row by
    tests/test_similarity.py: at sf0.01 both produce identical
    per-class verdicts. Downstream of the candidate pairs everything is
    linear: one qid-partitioned rank window, two keyed aggregates, a
    ≤10-row result."""
    from datamodel_clinicaldata_spark.operators.similarity import (
        ivf_pair_candidates,
        knn_label_accuracy,
    )

    e = read_table(spark, sf_dir, "embeddings")
    return knn_label_accuracy(e, k=5, candidate_fn=ivf_pair_candidates)
