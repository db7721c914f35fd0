"""Unit tests for dedup operators: exact hash-groupBy, exact n-gram
Jaccard, MinHash-LSH (recall vs the exact answer), SimHash banding."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from datamodel_clinicaldata_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_band_pairs,
)

DOCS = [
    # two exact copies
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank"),
    # near-dup of 1 (one word changed)
    (3, "the quick brown fox jumps over the lazy cat near the river bank"),
    # unrelated
    (4, "completely different content about distributed query engines and shuffles"),
    (5, "yet another unrelated document discussing parquet column pruning strategies"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in DOCS])


def test_exact_dedup_groups(spark, docs_df):
    rows = {r["keep_id"]: r["n_copies"] for r in exact_dedup_groups(docs_df).collect()}
    assert rows[1] == 2  # docs 1 and 2 collapse, min id kept
    assert rows[3] == 1 and rows[4] == 1 and rows[5] == 1
    assert 2 not in rows


def test_ngram_jaccard_exact_pairs(spark, docs_df):
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs_df, threshold=0.3).collect()
    }
    assert got[(1, 2)] == pytest.approx(1.0)  # identical
    # doc 3 differs in 1 of 13 tokens → 8 of 11 shingles shared with 1/2:
    # J = 8 / (11 + 11 - 8) = 4/7
    assert got[(1, 3)] == pytest.approx(8 / 14, abs=1e-9)
    assert got[(2, 3)] == pytest.approx(8 / 14, abs=1e-9)
    assert (1, 4) not in got and (4, 5) not in got


def test_minhash_lsh_matches_exact(spark, docs_df):
    """At (128 hashes, 64 bands) the per-pair miss probability is ≤1e-8,
    and candidates are exact-verified — so LSH output == exact output."""
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs_df, threshold=0.5).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs_df, num_hashes=128, bands=64).collect()
    }
    assert lsh == exact
    assert (1, 2) in lsh and (1, 3) in lsh


def test_simhash_bands(spark, docs_df):
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_band_pairs(docs_df).collect()
    }
    assert pairs[(1, 2)] == 0  # identical docs: identical simhash
    # unrelated docs must not appear at hamming ≤ 3
    assert all(not (a in (4, 5) or b == 4) for (a, b) in pairs if (a, b) != (4, 5))


def test_minhash_lsh_on_testdata(spark, sf_dir):
    """LSH equals the exact inverted-index answer on driver testdata."""
    from datamodel_clinicaldata_spark.sources.readers import read_table

    d = read_table(spark, sf_dir, "documents")
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(d, threshold=0.5, max_postings=10_000).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(d, num_hashes=128, bands=64).collect()
    }
    assert lsh == exact


def test_connected_components_vs_union_find(spark):
    """Min-label CC equals a driver-side union-find, including a path
    graph (worst diameter for propagation) and disjoint clusters — on
    BOTH execution paths: the small-graph single-task union-find (default
    threshold) and the distributed fixpoint (local_threshold=0)."""
    from datamodel_clinicaldata_spark.operators.graph import connected_components

    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 10), (20, 21), (21, 22), (22, 20), (30, 30)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["component_id"] for r in connected_components(df).collect()}
    distributed = {
        r["node"]: r["component_id"]
        for r in connected_components(df, local_threshold=0).collect()
    }
    assert got == distributed

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    expected_nodes = set()
    for a, b in edges:
        if a == b:
            continue  # self-loops dropped by symmetrize
        expected_nodes |= {a, b}
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in expected_nodes}
    assert got == expected


def test_connected_components_star_path_graph(spark):
    """Large-star/small-star contraction labels a 1000-node path graph —
    the adversarial diameter where min-label propagation needs 1000
    rounds — within its O(log² d) round budget, every node → 0."""
    from datamodel_clinicaldata_spark.operators.graph import (
        connected_components_star,
    )

    n = 1000
    df = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["src", "dst"])
    stats: dict = {}
    got = {
        r["node"]: r["component_id"]
        for r in connected_components_star(df, stats=stats).collect()
    }
    assert got == {i: 0 for i in range(n)}
    # O(log² d) bound, concretely: log₂(1000) ≈ 10; measured 18 on a 100k
    # path (`git show f070f4a:bench_before_r14opt.json`, "cc_rounds").
    # 2·log₂(d) + slack pins a convergence-rate regression without
    # flaking on the constant factor.
    assert stats["rounds"] <= 25, f"path-1000 took {stats['rounds']} rounds"


def test_connected_components_star_matches_label(spark):
    """Star contraction and min-label propagation agree on a mixed graph
    (clusters + chain + ring), and the label path falls back to star —
    instead of raising — when a chain exhausts its round budget."""
    from datamodel_clinicaldata_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    edges = (
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (22, 20)]
        + [(i, i + 1) for i in range(100, 140)]  # 41-node chain
    )
    df = spark.createDataFrame(edges, ["src", "dst"])
    star = {r["node"]: r["component_id"] for r in connected_components_star(df).collect()}
    label = {r["node"]: r["component_id"] for r in connected_components(df).collect()}
    assert star == label

    # diameter 40 > max_iter 5 → automatic star fallback, same answer
    # (local_threshold=0 forces past the small-graph union-find so the
    # budget-exhaustion path is actually exercised)
    fallback = {
        r["node"]: r["component_id"]
        for r in connected_components(df, max_iter=5, local_threshold=0).collect()
    }
    assert fallback == label


def test_substring_span_stats(spark):
    from datamodel_clinicaldata_spark.operators.dedup import substring_span_stats

    rows = [
        # docs 1/2 share the 5-token prefix "a b c d e"; doc 3 is disjoint
        Row(doc_id=1, text="a b c d e x1 x2 x3"),
        Row(doc_id=2, text="a b c d e y1 y2 y3"),
        Row(doc_id=3, text="p q r s t u v w"),
        Row(doc_id=4, text="too short"),  # < k tokens: no spans, dropped
    ]
    out = {
        r["doc_id"]: r
        for r in substring_span_stats(spark.createDataFrame(rows)).collect()
    }
    assert set(out) == {1, 2, 3}
    # 8 tokens → 4 windows each; only the shared prefix window duplicates
    for i in (1, 2):
        assert out[i]["n_spans"] == 4
        assert out[i]["n_dup_spans"] == 1
        assert out[i]["max_span_freq"] == 2
        assert out[i]["dup_frac"] == 0.25
    assert out[3]["n_dup_spans"] == 0
    assert out[3]["max_span_freq"] == 1


def test_prefix_filter_matches_inverted_index(spark, sf_dir):
    """The prefix-filtered join must return EXACTLY the inverted-index
    exact answer at the same threshold — the prefix principle guarantees
    recall 1, and the verify stage guarantees precision 1."""
    from datamodel_clinicaldata_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filtered_jaccard_pairs,
    )
    from datamodel_clinicaldata_spark.sources.readers import read_table

    d = read_table(spark, sf_dir, "documents")
    full = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(d, threshold=0.5, max_postings=10_000).collect()
    }
    pref = {
        (r["id_a"], r["id_b"])
        for r in prefix_filtered_jaccard_pairs(d).collect()
    }
    assert pref == full


def test_containment_catches_subset_dup(spark):
    """A short doc fully embedded in a longer one: containment ≈ 1.0
    finds it, symmetric Jaccard at the same threshold does not."""
    from pyspark.sql import Row

    from datamodel_clinicaldata_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    long_doc = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    short_doc = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text=long_doc),
            Row(doc_id=2, text=short_doc),
            Row(doc_id=3, text="totally different words about spark shuffles here"),
        ]
    )
    cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in ngram_containment_pairs(df).collect()
    }
    assert cont.get((1, 2)) == 1.0  # every short-doc shingle is in the long doc
    jac = ngram_jaccard_pairs(df, threshold=0.8).collect()
    assert not jac  # union-diluted similarity misses the subset dup


def test_fixpoints_reliable_checkpoint_mode(spark, tmp_path, monkeypatch):
    """SPARK_GRAFT_CHECKPOINT=reliable (VERDICT r9 #4): every iterative graph
    fixpoint runs end-to-end on reliable ``checkpoint()`` — the
    executor-loss-safe pin a real cluster needs (SCALING.md
    "Reliable-checkpoint doctrine") — and produces results identical to
    the localCheckpoint default. The checkpoint dir is set explicitly
    here; truncate_lineage also self-provisions a temp dir when unset."""
    from datamodel_clinicaldata_spark.operators.graph import (
        connected_components,
        connected_components_star,
        pagerank_fixedpoint,
    )

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    edges = (
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)]
        + [(i, i + 1) for i in range(100, 130)]  # 31-node chain
    )
    df = spark.createDataFrame(edges, ["src", "dst"])

    def labels(frame):
        return {r["node"]: r["component_id"] for r in frame.collect()}

    def pagerank(frame):
        return {r["node"]: r["pr_e12"] for r in frame.collect()}

    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT", raising=False)
    star_loc = labels(connected_components_star(df))
    cc_loc = labels(connected_components(df))
    pr_loc = pagerank(pagerank_fixedpoint(df, iters=3, local_threshold=0))

    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT", "reliable")
    assert labels(connected_components_star(df)) == star_loc
    # local_threshold=0 forces the DISTRIBUTED min-label loop (the
    # union-find escape hatch never checkpoints), max_iter exhaustion
    # also covers the star fallback
    assert labels(
        connected_components(df, local_threshold=0, max_iter=5)
    ) == cc_loc
    pr_rel = pagerank(pagerank_fixedpoint(df, iters=3, local_threshold=0))
    assert pr_rel == pr_loc  # fixed-point integers: bit-identical
    # reliable mode actually WROTE checkpoints to the durable dir
    import os

    ckpt_files = [
        os.path.join(r, f)
        for r, _, fs in os.walk(str(tmp_path / "ckpt"))
        for f in fs
    ]
    assert ckpt_files, "reliable mode produced no checkpoint files"


def test_registered_pins_reliable_mode(spark, sf_dir, tmp_path, monkeypatch):
    """Every NON-fixpoint lineage pin also honors the fleet-wide
    SPARK_GRAFT_CHECKPOINT=reliable swap (r10 doctrine completion): the
    registered rows whose multi-branch pins route through
    ``truncate_lineage`` — triangle count (3-branch edge frame),
    winnowing postings (3-branch postings frame), label propagation
    (round-1 label pin), and an ``ordered_prefix`` consumer (pid-pinned
    range frame) — produce bit-identical results in reliable mode, and
    the durable dir actually receives checkpoint files."""
    import os

    from datamodel_clinicaldata_spark.registry import QUERIES

    names = [
        "graph_triangle_count",
        "dedup_winnowing_pairs",
        "graph_label_propagation",
        "agg_gini_coefficient",  # ordered_prefix pin inside ranking.py
        "graph_pagerank_dup_hubs",  # _local_pagerank single-task pin (r11)
    ]
    local = {
        n: sorted(map(tuple, QUERIES[n](spark, sf_dir).collect()))
        for n in names
    }
    ckpt = tmp_path / "ckpt_reg"
    spark.sparkContext.setCheckpointDir(str(ckpt))
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT", "reliable")
    reliable = {
        n: sorted(map(tuple, QUERIES[n](spark, sf_dir).collect()))
        for n in names
    }
    assert reliable == local
    ckpt_files = [
        os.path.join(r, f) for r, _, fs in os.walk(str(ckpt)) for f in fs
    ]
    assert ckpt_files, "reliable mode produced no checkpoint files"


def test_star_round_plan_shape(spark):
    """r10 star-contraction rework pinned at the PLAN level: one
    large-star∘small-star round compiles to exactly 2 WindowExec (the
    per-src min of each star operator), ZERO joins (the r9 shape paid a
    groupBy+join in each operator), and 3 exchanges (two window
    partitionings + the round's single distinct). A regression back to
    the join shape or an extra per-round shuffle fails here without
    needing a timing assertion."""
    import re

    from pyspark.sql import functions as F

    from datamodel_clinicaldata_spark.operators.graph import (
        _large_star,
        _small_star,
        symmetrize,
    )

    edges = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], ["src", "dst"])
    directed = (
        symmetrize(edges).filter(F.col("src") > F.col("dst")).localCheckpoint()
    )
    sym = directed.union(
        directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    plan = (
        _small_star(_large_star(sym))._jdf.queryExecution().executedPlan().toString()
    )
    assert len(re.findall(r"Join", plan)) == 0
    assert len(re.findall(r"\bWindow\b", plan)) == 2
    assert len(re.findall(r"Exchange", plan)) == 3


def test_truncate_lineage_env_and_validation(spark, tmp_path, monkeypatch):
    """SPARK_GRAFT_CHECKPOINT is the deployment-time switch SCALING.md
    documents — pin that the env var actually selects reliable mode (and
    that an unknown mode raises instead of silently running local)."""
    import pytest as _pytest

    from datamodel_clinicaldata_spark.operators.graph import truncate_lineage

    spark.sparkContext.setCheckpointDir(str(tmp_path / "env_ckpt"))
    df = spark.range(10)
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT", "reliable")
    out = truncate_lineage(df)
    assert out.count() == 10
    import os as _os

    files = [
        f for r, _, fs in _os.walk(str(tmp_path / "env_ckpt")) for f in fs
    ]
    assert files, "env-selected reliable mode wrote no checkpoint files"
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT", "bogus")
    with _pytest.raises(ValueError, match="unknown mode"):
        truncate_lineage(spark.range(1))
