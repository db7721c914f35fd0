"""Unit tests for similarity search: exact cosine math, brute-force top-k,
LSH near-dup recall, IVF ANN recall — approximate paths measured against
the exact baseline on driver testdata."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from datamodel_clinicaldata_spark.functions.vectors import cosine, dot
from datamodel_clinicaldata_spark.operators.similarity import (
    cosine_neardup_pairs,
    cosine_topk_bruteforce,
    ivf_topk,
)
from datamodel_clinicaldata_spark.sources.readers import read_table


def test_vector_math(spark):
    df = spark.createDataFrame([Row(a=[1.0, 2.0, 2.0], b=[2.0, 0.0, 1.0])])
    r = df.select(
        dot(F.col("a"), F.col("b")).alias("d"),
        cosine(F.col("a"), F.col("b")).alias("c"),
    ).first()
    assert r["d"] == pytest.approx(4.0)
    assert r["c"] == pytest.approx(4.0 / (3.0 * math.sqrt(5.0)))


def test_bruteforce_topk_ordering(spark):
    corpus = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, 0.0]),
            Row(vec_id=2, embedding=[0.9, 0.1]),
            Row(vec_id=3, embedding=[0.0, 1.0]),
            Row(vec_id=4, embedding=[-1.0, 0.0]),
        ]
    )
    queries = spark.createDataFrame([Row(query_id=0, embedding=[1.0, 0.0])])
    got = [
        r["vec_id"]
        for r in cosine_topk_bruteforce(corpus, queries, k=3)
        .orderBy("rank")
        .collect()
    ]
    assert got == [1, 2, 3]


def _exact_pairs(spark, sf_dir, threshold):
    e = read_table(spark, sf_dir, "embeddings")
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    return {
        (r["id_a"], r["id_b"])
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("c"))
        .filter(F.col("c") >= threshold)
        .collect()
    }


def test_neardup_lsh_recall(spark, sf_dir):
    """Multi-table hyperplane LSH must recover ≥70% of exact cosine ≥ 0.45
    pairs (expected miss ≈ 4% per pair at bits=4, tables=16; floor leaves
    slack for the finite-sample variance of 64-dim sign buckets)."""
    exact = _exact_pairs(spark, sf_dir, 0.45)
    assert exact, "testdata should contain cosine ≥ 0.45 pairs"
    e = read_table(spark, sf_dir, "embeddings")
    got = {
        (r["id_a"], r["id_b"])
        for r in cosine_neardup_pairs(e, threshold=0.45, n_tables=16, bits=4).collect()
    }
    assert not (got - exact), "LSH must not invent pairs (exact verify)"
    assert len(got & exact) / len(exact) >= 0.7


def test_kmeans_refine_shapes_and_recall(spark, sf_dir):
    """Lloyd refinement keeps centroid count/dim and the refined IVF still
    clears the recall floor."""
    from datamodel_clinicaldata_spark.operators.similarity import kmeans_refine

    e = read_table(spark, sf_dir, "embeddings")
    seeds = [r["embedding"] for r in e.orderBy("vec_id").limit(8).collect()]
    refined = kmeans_refine(e, seeds, iters=2)
    assert len(refined) == 8 and all(len(c) == len(seeds[0]) for c in refined)
    # refinement moved at least one centroid off its seed
    assert any(tuple(a) != tuple(map(float, b)) for a, b in zip(refined, seeds))

    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk_bruteforce(e, queries, k=10).collect()
    }
    refined_ivf = {
        (r["query_id"], r["vec_id"])
        for r in ivf_topk(e, queries, nprobe=8, refine_iters=1).collect()
    }
    assert len(refined_ivf & exact) / len(exact) >= 0.5


def test_ivf_topk_recall(spark, sf_dir):
    """IVF with nprobe=8 of 16 centroids must reach ≥50% recall@10 vs the
    brute-force baseline (synthetic embeddings are near-orthogonal, the
    hardest case for coarse quantization — recall floor is deliberately
    conservative)."""
    e = read_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk_bruteforce(e, queries, k=10).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in ivf_topk(e, queries, nprobe=8).collect()
    }
    assert len(approx & exact) / len(exact) >= 0.5


def test_quantize_int8_bounds_and_extremum(spark, sf_dir):
    """Quantized codes stay in [-127, 127] and each non-zero vector's
    largest-|v| component maps to ±127 exactly."""
    import pyspark.sql.functions as F

    from datamodel_clinicaldata_spark.functions.vectors import quantize_int8
    from datamodel_clinicaldata_spark.sources.readers import read_table

    e = read_table(spark, sf_dir, "embeddings").limit(200)
    q = e.select(quantize_int8(F.col("embedding")).alias("code"))
    stats = q.select(
        F.aggregate("code", F.lit(0).cast("long"), lambda a, v: F.greatest(a, F.abs(v))).alias("max_abs")
    ).agg(F.min("max_abs"), F.max("max_abs")).collect()[0]
    assert stats[0] == 127 and stats[1] == 127


def test_quantized_topk_rank1_is_self(spark, sf_dir):
    """A query vector's nearest quantized neighbor is itself (integer
    self-dot is maximal for symmetric quantization on this corpus)."""
    from datamodel_clinicaldata_spark.queries_similarity import similarity_quantized_topk

    rows = similarity_quantized_topk(spark, sf_dir).filter("rank = 1").collect()
    assert len(rows) == 5
    assert all(r.query_id == r.vec_id for r in rows)


def test_neardup_lsh_prod_blocks_and_recalls(spark, sf_dir):
    """The production LSH regime (clustered corpus, τ=0.9, bits=10 × 8
    tables) must actually BLOCK — candidate pairs a small fraction of
    all pairs (the recall-regime row verifies ~57% of all pairs by
    design; this row must not) — while recovering ≥85% of the exact
    cosine ≥ 0.9 pairs (deterministic LCG planes → a fixed outcome, no
    flake; expected miss ≈ 1–8% depending on twin-norm spread)."""
    from datamodel_clinicaldata_spark.operators.similarity import (
        neardup_candidate_pairs,
    )
    from datamodel_clinicaldata_spark.queries_similarity import (
        _clustered_corpus,
        similarity_neardup_lsh_prod,
    )

    corpus = _clustered_corpus(read_table(spark, sf_dir, "embeddings"))
    n = corpus.count()
    cand = neardup_candidate_pairs(
        corpus, n_tables=8, bits=10, ensure_parallelism=False
    ).count()
    assert cand / (n * (n - 1) // 2) < 0.05, "prod regime must block"

    sa = corpus.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    sb = corpus.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    from datamodel_clinicaldata_spark.functions.vectors import cosine

    exact = {
        (r["id_a"], r["id_b"])
        for r in sa.join(sb, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("c"))
        .filter(F.col("c") >= 0.9)
        .collect()
    }
    assert exact, "clustered corpus must contain cosine ≥ 0.9 twin pairs"
    got = {
        (r["id_a"], r["id_b"])
        for r in similarity_neardup_lsh_prod(spark, sf_dir).collect()
    }
    assert not (got - exact), "LSH must not invent pairs (exact verify)"
    assert len(got & exact) / len(exact) >= 0.85


def test_sign_bits_expr_matches_column_form(spark, sf_dir):
    """sign_bits_expr (one parsed SQL string per table — the fast-to-
    construct form the LSH operators use) is bit-identical to the
    per-Column sign_bits: same literals, same fold order, same CASE."""
    from datamodel_clinicaldata_spark.functions.vectors import (
        sign_bits,
        sign_bits_expr,
    )
    from datamodel_clinicaldata_spark.operators.similarity import _lcg_planes

    e = read_table(spark, sf_dir, "embeddings")
    planes = _lcg_planes(80, 64, 13)
    for t in range(0, 8, 3):
        tbl = planes[t * 10 : (t + 1) * 10]
        old = e.select("vec_id", sign_bits(F.col("embedding"), tbl).alias("b"))
        new = e.select("vec_id", sign_bits_expr("embedding", tbl).alias("b"))
        assert old.exceptAll(new).count() == 0
        assert new.exceptAll(old).count() == 0


def test_projection_rerank_recall(spark, sf_dir):
    """JL-projection (64→16) coarse top-50 + exact rerank must recover
    most of the brute-force top-10 (near-orthogonal synthetic embeddings
    are the adversarial case for projection; floor kept conservative),
    and every emitted cos_sim must equal the exact cosine (the rerank is
    exact by construction)."""
    from datamodel_clinicaldata_spark.operators.similarity import (
        projection_topk_rerank,
    )

    e = read_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact_rows = cosine_topk_bruteforce(e, queries, k=10).collect()
    exact = {(r["query_id"], r["vec_id"]) for r in exact_rows}
    exact_sim = {(r["query_id"], r["vec_id"]): r["cos_sim"] for r in exact_rows}
    approx_rows = projection_topk_rerank(e, queries).collect()
    approx = {(r["query_id"], r["vec_id"]) for r in approx_rows}
    assert len(approx & exact) / len(exact) >= 0.5
    for r in approx_rows:
        key = (r["query_id"], r["vec_id"])
        if key in exact_sim:
            assert r["cos_sim"] == exact_sim[key]


def test_contrastive_triplets_label_constraints(spark, sf_dir):
    """Positives share the anchor's label, hard negatives never do, and
    neither ever equals the anchor itself."""
    from datamodel_clinicaldata_spark.operators.similarity import (
        contrastive_triplets,
    )

    e = read_table(spark, sf_dir, "embeddings")
    anchors = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("anchor_id"), "embedding", "label"
    )
    out = contrastive_triplets(e, anchors).collect()
    labels = {r["vec_id"]: r["label"] for r in e.select("vec_id", "label").collect()}
    assert len(out) == 20
    for r in out:
        assert r["pos_id"] != r["anchor_id"] and r["neg_id"] != r["anchor_id"]
        assert labels[r["pos_id"]] == labels[r["anchor_id"]]
        assert labels[r["neg_id"]] != labels[r["anchor_id"]]
        assert abs((r["pos_sim"] - r["neg_sim"]) - r["margin"]) < 2e-6


def test_mmr_rerank_prefers_diversity(spark, tmp_path):
    """MMR must demote a near-duplicate of an already-selected result in
    favor of a diverse lower-similarity candidate — the property that
    distinguishes it from plain top-k."""
    import math

    from datamodel_clinicaldata_spark.queries_similarity import (
        similarity_mmr_rerank,
    )

    dim = 8

    def unit(x, y):
        n = math.sqrt(x * x + y * y)
        return [float(x / n), float(y / n)] + [0.0] * (dim - 2)

    # the near-dup pair (1, 2) is ~0.80 similar to the query but ~1.0 to
    # each other; 3 matches their query-similarity while pointing the
    # other way (sim(3, 1) ≈ 0.29) — λ=0.7 must then prefer 3 over the
    # twin. (Twins near-identical to the QUERY can never lose: then
    # sim(c, selected) ≈ sim(c, q) for every candidate and MMR degrades
    # to plain top-k — that is correct behavior, not a test target.)
    rows = [
        (0, unit(1.0, 0.0), 0),       # the query vector
        (1, unit(0.81, 0.59), 0),     # relevant, off-axis
        (2, unit(0.80, 0.60), 0),     # near-duplicate of 1
        (3, unit(0.80, -0.60), 0),    # equally relevant, opposite side
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    out = {
        r["rank"]: r["vec_id"]
        for r in similarity_mmr_rerank(spark, str(tmp_path)).collect()
    }
    assert out[1] == 0  # the query itself is its own best match
    assert out[2] == 1  # best remaining by relevance
    # plain top-k would pick 2 (cos≈0.9999 to the query) next; MMR must
    # jump to the diverse 3 because 2 is a near-copy of the selected 1
    assert out[3] == 3
    assert out[4] == 2


def test_assign_cells_expr_arrow_agree(spark, sf_dir):
    """The Arrow/GEMM assignment path must agree with the
    oracle-replayable Catalyst-fold path on the fixture corpus.
    Disagreement is only possible on near-exact cosine ties (numpy's
    pairwise summation vs the sequential fold differ in the last ulp);
    the fixture's near-orthogonal vectors keep the top-2 gap orders of
    magnitude above ulp, so agreement must be EXACT here."""
    from datamodel_clinicaldata_spark.operators.similarity import assign_cells
    from datamodel_clinicaldata_spark.sources.readers import read_table

    e = read_table(spark, sf_dir, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in e.orderBy("vec_id").limit(16).collect()
    ]
    a = {
        r["vec_id"]: r["cid"]
        for r in assign_cells(e, cents, impl="expr").collect()
    }
    b = {
        r["vec_id"]: r["cid"]
        for r in assign_cells(e, cents, impl="arrow").collect()
    }
    assert a == b
    # seeds must claim their own cells under both paths (cos(v,v)=1)
    for vid in range(16):
        assert a[vid] == vid


def test_knn_label_accuracy_guard_and_candidate_path(spark, sf_dir):
    """The r8-verdict asks on eval_knn_label_accuracy, pinned:

    1. GUARD — brute force over a set larger than max_bruteforce_rows
       raises (routing to the candidate path) instead of quietly
       attempting N² pairs.
    2. LOSSLESS PLUMBING — the pluggable IVF candidate path with
       nprobe == n_centroids probes every cell, so its candidate set IS
       the all-pairs set and the per-class verdicts must equal the
       guarded brute force EXACTLY (proves the candidate join/dedup/
       scoring plumbing loses nothing; with nprobe < n_centroids the
       verdicts legitimately drift on these ISOTROPIC synthetic
       embeddings, whose 5-NN structure is near-chance — real clustered
       embeddings are the regime where partial probing keeps recall).
    3. TIE-BREAK — the c·2³² − nlabel vote key prefers higher count
       first, then the MIN label, beyond the old ·1000 key's domain.
    """
    from datamodel_clinicaldata_spark.operators.similarity import (
        ivf_pair_candidates,
        knn_label_accuracy,
    )

    e = read_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="ivf_pair_candidates"):
        knn_label_accuracy(e, max_bruteforce_rows=10).collect()

    bf = sorted(map(tuple, knn_label_accuracy(e).collect()))
    full_probe = sorted(
        map(
            tuple,
            knn_label_accuracy(
                e,
                candidate_fn=lambda prep: ivf_pair_candidates(
                    prep, n_centroids=16, nprobe=16
                ),
            ).collect(),
        )
    )
    assert full_probe == bf

    # tie-break: label 1500 (> old key's 999 domain) with 2 votes must
    # beat label 7 with 1 vote; equal counts -> MIN label wins
    rows = [
        # qid 0 (true label 1500): neighbors vote {1500: 2, 7: 1}
        (0, 1500, [1.0, 0.0, 0.0]),
        (1, 1500, [0.99, 0.01, 0.0]),
        (2, 1500, [0.98, 0.02, 0.0]),
        (3, 7, [0.97, 0.03, 0.0]),
    ]
    tiny = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    out = {
        r["label"]: (r["n_vecs"], r["n_correct"])
        for r in knn_label_accuracy(tiny, k=3, ensure_parallelism=False).collect()
    }
    # every qid sees the 3 others: labels {1500:2, 7:1} for qid 3, etc.
    # qid 0,1,2 (true 1500) -> votes {1500:2, 7:1} -> pred 1500, correct
    # qid 3 (true 7)        -> votes {1500:3}      -> pred 1500, wrong
    assert out[1500] == (3, 3)
    assert out[7] == (1, 0)


def test_nearest_scored_bit_equal_inline_cosine(spark, sf_dir):
    """The hoisted-norm assignment (``nearest_scored`` over a cn2-carrying
    centroid literal + a hoisted row self-dot) must produce the EXACT
    (negcos, cid) sort keys of the inline ``-cosine(v, c)`` transform —
    the r13 optimization's correctness contract is bit-identity, not
    tolerance. Checked on the real fixture embeddings against 16 seeds."""
    from datamodel_clinicaldata_spark.functions.vectors import as_double, cosine, dot
    from datamodel_clinicaldata_spark.operators.similarity import (
        _centroid_array_expr,
        _centroid_array_expr_n2,
        nearest_scored,
    )

    e = read_table(spark, sf_dir, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in e.orderBy("vec_id").limit(16).collect()
    ]
    inline = F.transform(
        _centroid_array_expr(cents),
        lambda c: F.struct(
            (-cosine(F.col("embedding"), c["cvec"])).alias("negcos"),
            c["cid"].alias("cid"),
        ),
    )
    hoisted_rows = (
        e.select("vec_id", "embedding", as_double(F.col("embedding")).alias("__v"))
        .withColumn("__n2", dot(F.col("__v"), F.col("__v")))
        .select(
            "vec_id",
            F.sort_array(inline).alias("a"),
            nearest_scored(
                F.col("__v"), F.col("__n2"), _centroid_array_expr_n2(cents)
            ).alias("b"),
        )
        .collect()
    )
    assert hoisted_rows
    for r in hoisted_rows:
        ka = [(x["negcos"], x["cid"]) for x in r["a"]]
        kb = [(x["negcos"], x["cid"]) for x in r["b"]]
        assert ka == kb, f"vec {r['vec_id']}: hoisted scores diverge"
