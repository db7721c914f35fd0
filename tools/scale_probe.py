"""Scale evidence past the sf0.1 fixtures (verdict r6 #3): drive the
distributed primitives whose 100 TB arguments were design-level — the
two-phase global ordering (``ordered_prefix``), the sweep-line
concurrency shape, and the binned interval join — at ≥50M generated rows
via the zero-storage synthetic DataSource (``sources/pydatasource.py``),
and record rows/s plus shuffle volume from Spark's own status REST API.

No fixtures: the seeded-LCG source generates any size bit-identically,
partition-parallel, so the probe measures the OPERATORS, not parquet IO.
Each probe carries an exactness check where a closed form exists (the
rank and the integer running-sum total), so throughput numbers can never
come from a silently wrong plan.

    python tools/scale_probe.py [rows]          # default 50_000_000

Also callable in-session: ``run_probes(spark, rows)`` → dict.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _shuffle_totals(spark) -> tuple[int, int]:
    """(shuffle_write_bytes, shuffle_read_bytes) summed over all stages,
    straight from the driver's AppStatusStore (the store that backs the
    Spark UI) — works with ``spark.ui.enabled=false``, which the repo's
    sessions set. Best-effort: (0, 0) on any introspection failure."""
    try:
        gw = spark.sparkContext._gateway
        jvm = gw.jvm
        store = spark.sparkContext._jsc.sc().statusStore()
        stages = store.stageList(
            jvm.java.util.ArrayList(),  # all statuses
            False,
            False,
            gw.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        n = stages.size()
        w = sum(stages.apply(i).shuffleWriteBytes() for i in range(n))
        rd = sum(stages.apply(i).shuffleReadBytes() for i in range(n))
        return w, rd
    except Exception:  # noqa: BLE001 — diagnostics must not fail the probe
        return 0, 0


def _synth(spark, rows: int, partitions: int, seed: int = 7):
    from datamodel_clinicaldata_spark.sources.pydatasource import (
        SyntheticEventsDataSource,
    )

    try:
        spark.dataSource.register(SyntheticEventsDataSource)
    except Exception:  # noqa: BLE001 — already registered in this session
        pass
    return (
        spark.read.format("synthetic_events")
        .option("rows", rows)
        .option("partitions", partitions)
        .option("seed", seed)
        .option("users", 100_000)
        .load()
    )


def probe_prefix_rank(spark, rows: int, partitions: int) -> dict:
    """ordered_prefix rank + integer running sum over the full set, with
    both closed-form exactness checks (last rank == n; running-sum total
    == plain aggregate of the same integer column)."""
    from pyspark.sql import functions as F

    from datamodel_clinicaldata_spark.operators.ranking import ordered_prefix

    base = _synth(spark, rows, partitions).select(
        "event_id",
        F.floor(F.col("value") * 1000).cast("long").alias("v"),  # exact: value = k/1000
    )
    t0 = time.time()
    pref = ordered_prefix(
        base,
        [F.col("v").asc(), F.col("event_id").asc()],
        rank_col="rk",
        running_sum={"v": "cs"},
        num_partitions=max(partitions, 64),
    )
    probe = pref.agg(
        F.max("rk").alias("max_rk"), F.max("cs").alias("total")
    ).collect()[0]
    dt = time.time() - t0
    expected = base.agg(F.sum("v")).collect()[0][0]
    return {
        "rows": rows,
        "sec": round(dt, 2),
        "rows_per_sec": int(rows / dt),
        "rank_exact": bool(probe["max_rk"] == rows),
        "sum_exact": bool(probe["total"] == expected),
    }


def probe_sweep_line(spark, rows: int, partitions: int) -> dict:
    """Sweep-line max concurrency over ``rows`` synthetic intervals
    (2·rows endpoints through the distributed running sum) — the
    events_max_concurrency shape at probe scale. Exactness: the running
    sum of ±1 deltas must end at exactly 0 (every interval closes)."""
    from pyspark.sql import functions as F

    from datamodel_clinicaldata_spark.operators.ranking import ordered_prefix

    e = _synth(spark, rows, partitions).select(
        (F.col("event_id") * 7).alias("s"),
        ((F.col("user_id") % 997) * 11 + 13).alias("dur"),
        "event_id",
    )
    start = e.select(
        F.col("s").alias("t"), F.lit(1).cast("long").alias("delta"), "event_id"
    )
    end = e.select(
        (F.col("s") + F.col("dur")).alias("t"),
        F.lit(-1).cast("long").alias("delta"),
        "event_id",
    )
    t0 = time.time()
    run = ordered_prefix(
        start.unionAll(end),
        [F.col("t").asc(), F.col("delta").asc(), F.col("event_id").asc()],
        running_sum={"delta": "conc"},
        rank_col="rk",
        num_partitions=max(partitions, 64),
    )
    r = run.agg(
        F.max("conc").alias("peak"),
        F.max_by("conc", "rk").alias("final"),  # prefix sum at the last endpoint
    ).collect()[0]
    dt = time.time() - t0
    n_endpoints = 2 * rows
    return {
        "intervals": rows,
        "endpoints": n_endpoints,
        "sec": round(dt, 2),
        "endpoints_per_sec": int(n_endpoints / dt),
        "peak_concurrency": int(r["peak"]),
        "closes_to_zero": bool(r["final"] == 0),
    }


def probe_interval_join(spark, rows: int, partitions: int) -> dict:
    """Binned interval-containment join: ``rows`` points against
    rows//50 intervals. Exactness: every point's containment is
    re-checked by the operator's final filter by construction, so the
    probe validates volume (match count > 0) and throughput."""
    from pyspark.sql import functions as F

    from datamodel_clinicaldata_spark.operators.joins import binned_interval_join

    n_iv = max(rows // 50, 1)
    pts = _synth(spark, rows, partitions).select(
        "event_id", (F.col("event_id") * 13 % (n_iv * 1000)).alias("t")
    )
    ivs = (
        _synth(spark, n_iv, max(partitions // 4, 1), seed=11)
        .select(
            F.col("event_id").alias("iid"),
            (F.col("event_id") * 1000).alias("lo"),
            (F.col("event_id") * 1000 + 400 + (F.col("user_id") % 600)).alias("hi"),
        )
    )
    t0 = time.time()
    n_matches = binned_interval_join(
        pts, ivs, "t", "lo", "hi", bin_width_us=1000
    ).count()
    dt = time.time() - t0
    return {
        "points": rows,
        "intervals": n_iv,
        "matches": int(n_matches),
        "sec": round(dt, 2),
        "points_per_sec": int(rows / dt),
    }


def probe_hot_key_fold(spark, rows: int, partitions: int) -> dict:
    """Skew probe for the per-key array recurrences (VERDICT r7 #2):
    ONE synthetic key holding ``rows`` events driven through the exact
    collect_list → array_sort → ``F.aggregate`` integer-fold shape of
    ``timeseries_ewma_fold`` and ``timeseries_holt_smoothing`` — the
    documented worst case, a single unsplittable series materialized as
    one array row. Constant input makes both recurrences closed-form
    ((8v+2v) div 10 == v, so EWMA must end exactly at v; Holt at
    (v, 0)), so the timing can never come from a wrong fold."""
    from pyspark.sql import functions as F

    v_const = 123_456_789  # e6-scaled constant; fixed point of both folds
    base = _synth(spark, rows, partitions).select(
        F.lit(0).cast("long").alias("user_id"),
        F.struct(
            F.col("event_id").alias("t"),
            F.lit(v_const).cast("long").alias("v"),
            # funnel stages cycle 1→2→3 in time order, so the windowed
            # greedy must reach depth 3 — its own closed-form check
            ((F.col("event_id") % 3) + 1).cast("long").alias("s"),
        ).alias("p"),
    )
    per = base.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.array_sort(F.collect_list("p")).alias("ps"),
    )

    def idiv10(x):
        m = ((x % 10) + 10) % 10
        return ((x - m).cast("decimal(38,0)") / F.lit(10)).cast("long")

    def ewma_step(acc, p):
        return F.when(acc.isNull(), p["v"]).otherwise(
            idiv10(8 * acc + 2 * p["v"])
        )

    def holt_step(acc, p):
        lvl = idiv10(2 * p["v"] + 8 * (acc["l"] + acc["b"]))
        trend = idiv10(3 * (lvl - acc["l"]) + 7 * acc["b"])
        return F.when(
            acc.isNull(),
            F.struct(p["v"].alias("l"), F.lit(0).cast("long").alias("b")),
        ).otherwise(F.struct(lvl.alias("l"), trend.alias("b")))

    big_w = F.lit(1 << 60)

    def funnel_step(acc, p):
        c1 = F.when(p["s"] == 1, p["t"]).otherwise(acc["c1"])
        c2 = F.when(
            (p["s"] == 2) & (acc["c1"] >= 0) & (p["t"] - acc["c1"] <= big_w),
            F.greatest(acc["c2"], acc["c1"]),
        ).otherwise(acc["c2"])
        c3 = F.when(
            (p["s"] == 3) & (acc["c2"] >= 0) & (p["t"] - acc["c2"] <= big_w),
            F.greatest(acc["c3"], acc["c2"]),
        ).otherwise(acc["c3"])
        return F.struct(c1.alias("c1"), c2.alias("c2"), c3.alias("c3"))

    neg1 = F.lit(-1).cast("long")
    fun0 = F.struct(neg1.alias("c1"), neg1.alias("c2"), neg1.alias("c3"))
    funnel = F.aggregate(F.col("ps"), fun0, funnel_step)
    depth = (
        F.when(funnel["c3"] >= 0, 3)
        .when(funnel["c2"] >= 0, 2)
        .when(funnel["c1"] >= 0, 1)
        .otherwise(0)
    )

    t0 = time.time()
    r = per.select(
        "n_points",
        F.aggregate(F.col("ps"), F.lit(None).cast("long"), ewma_step).alias(
            "ewma"
        ),
        F.aggregate(
            F.col("ps"),
            F.lit(None).cast("struct<l:bigint,b:bigint>"),
            holt_step,
        ).alias("holt"),
        depth.alias("funnel_depth"),
    ).collect()[0]
    dt = time.time() - t0
    return {
        "series_points": rows,
        "sec": round(dt, 2),
        "points_per_sec": int(rows / dt),
        "ewma_exact": bool(r["ewma"] == v_const),
        "holt_exact": bool(
            r["holt"]["l"] == v_const and r["holt"]["b"] == 0
        ),
        "funnel_exact": bool(r["funnel_depth"] == 3),
        "n_points": int(r["n_points"]),
    }


def probe_dedup(spark, n_docs: int, partitions: int) -> dict:
    """Dedup-family probe at ≥1M synthetic documents (VERDICT r7 #6):
    the largest direct dedup measurement was sf0.1 (~4k docs); this
    drives ``exact_dedup_groups``, the MinHash BANDING stage (signature
    → band explode → bucket candidates), and the winnowing postings
    join at corpus scale, each with a planted-structure exactness check.

    Corpus (fully Spark-side, zero fixtures): n_docs docs in groups of
    4 (gid = doc_id % G, G = n_docs/4), 18 shared pseudo-words per
    group from xxhash64(gid, j) over a 30k vocab, plus a salt word —
    UNIQUE per doc for even gids (near-dup groups: 18/19 words shared),
    constant WITHIN the group for odd gids (exact-dup groups; per-group
    rather than global — a single global salt word is an 8-char gram in
    every odd doc, i.e. planted boilerplate that turns the postings join
    quadratic: measured 39.5M pairs at 100k docs before the fix, 0.16M
    after. Corpus-wide boilerplate is exactly what the separate
    boilerplate-chunk detector handles; this probe measures the
    postings JOIN). Closed
    forms: distinct texts == G/2 + n_docs/2; every within-odd-gid pair
    (6 per group) MUST surface as a candidate in both the banding stage
    (identical text → identical signature → every band collides) and
    the winnowing postings join (identical text → identical fingerprint
    set) — planted recall strictly 1.0 or the probe fails."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from datamodel_clinicaldata_spark.functions.text import (
        gram_hashes,
        winnow_from_hashes,
    )
    from datamodel_clinicaldata_spark.operators.dedup import (
        _pairs_from_postings,
        exact_dedup_groups,
        minhash_signature,
    )

    n_docs -= n_docs % 8  # G = n_docs/4 must be even for the parity split
    grp = n_docs // 4
    gid = F.col("doc_id") % grp
    # Words are 8-hex-char tokens (md5 of a vocab index). Two degenerate
    # corpus designs measured before landing on this one: (a) "w123"
    # digit words — 8-grams spanning boundaries collide on shared digit
    # fragments (29.7M spurious postings pairs at 100k docs); (b) a 30k
    # vocab — winnowing's min-selection picks the corpus-wide
    # SMALLEST-hash word-grams in every doc containing them (~60 docs
    # per word at 100k docs), i.e. quadratic buckets by construction
    # (43M pairs). A 10^8 vocab makes cross-group word sharing
    # birthday-rare, so pair volume measures the planted structure and
    # the join machinery, not a degenerate corpus.
    words = F.transform(
        F.sequence(F.lit(0), F.lit(17)),
        lambda j: F.substring(
            F.md5(
                F.pmod(F.xxhash64(gid * 131 + j), F.lit(100_000_000)).cast(
                    "string"
                )
            ),
            1,
            8,
        ),
    )
    salt = F.when(
        gid % 2 == 0, F.concat(F.lit("u"), F.col("doc_id"))
    ).otherwise(F.concat(F.lit("c"), gid))
    docs = (
        _synth(spark, n_docs, partitions)
        .select(F.col("event_id").alias("doc_id"))
        .select(
            "doc_id",
            F.array_join(F.concat(words, F.array(salt)), " ").alias("text"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Reduce-side width for the expansion builds (r12 lesson — measured,
    # not theoretical): at 4M docs the winnowing postings explode is
    # ~240M rows / ~150M distinct fingerprint keys; through the session's
    # 32 shuffle partitions that is ~5M keys per task held as live Java
    # objects in 32 concurrent ObjectHashAggregate maps (the 4M
    # fallbackThreshold admits them) — the 48g JVM spent 30 minutes in a
    # GC death spiral and died without ever completing a task. On a real
    # cluster these exchanges are sized to data volume (the 100-200 MB/
    # partition doctrine); the probe must do the same: an explicit
    # repartition(width, keys) immediately before the groupBy — the
    # groupBy reuses the exchange (same hash clustering), and
    # user-specified widths are exempt from AQE coalescing, so the
    # per-task key count is actually bounded (~600k at 4M docs).
    width = int(min(512, max(partitions, n_docs // 25_000)))
    out: dict = {"n_docs": n_docs, "postings_shuffle_width": width}
    try:
        # planted truth: all C(4,2)=6 pairs inside each odd gid
        planted = _pairs_from_postings(
            docs.filter(gid % 2 == 1)
            .groupBy(gid.alias("g"))
            .agg(F.collect_list("doc_id").alias("ids"))
        ).persist(StorageLevel.MEMORY_AND_DISK)
        n_planted = planted.count()

        t0 = time.time()
        groups = exact_dedup_groups(docs)
        agg = groups.agg(
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum("n_copies").alias("n_total"),
        ).collect()[0]
        dt = time.time() - t0
        out["exact"] = {
            "sec": round(dt, 2),
            "docs_per_sec": int(n_docs / dt),
            "distinct_exact": bool(
                agg["n_distinct"] == grp // 2 + n_docs // 2
                and agg["n_total"] == n_docs
            ),
        }

        num_hashes, bands = 32, 8
        r = num_hashes // bands
        t0 = time.time()
        banded = docs.select(
            "doc_id",
            minhash_signature(F.col("text"), num_hashes).alias("sig"),
        ).select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda b: F.struct(
                        b.alias("band"),
                        F.xxhash64(F.slice("sig", b * r + 1, r)).alias("bh"),
                    ),
                )
            ).alias("bb"),
        ).select("doc_id", "bb.band", "bb.bh")
        cand = _pairs_from_postings(
            banded.repartition(width, "band", "bh")
            .groupBy("band", "bh")
            .agg(F.collect_list("doc_id").alias("ids"))
            .filter(F.size("ids") >= 2)
        ).persist(StorageLevel.MEMORY_AND_DISK)
        n_cand = cand.count()
        missing = planted.join(cand, ["id_a", "id_b"], "left_anti").count()
        dt = time.time() - t0
        out["minhash_banding"] = {
            "sec": round(dt, 2),
            "docs_per_sec": int(n_docs / dt),
            "candidates": int(n_cand),
            "candidate_fraction": round(
                2.0 * n_cand / (n_docs * (n_docs - 1)), 8
            ),
            "planted_pairs": int(n_planted),
            "planted_recall_1": bool(missing == 0),
        }
        cand.unpersist()

        t0 = time.time()
        posts = (
            docs.withColumn("gh", gram_hashes(F.col("text"), 8))
            .select(
                "doc_id",
                F.explode(winnow_from_hashes(F.col("gh"), 4)).alias("fp"),
            )
        )
        buckets = (
            posts.repartition(width, "fp")
            .groupBy("fp")
            .agg(F.collect_list("doc_id").alias("ids"))
            .filter((F.size("ids") >= 2) & (F.size("ids") <= 5000))
        )
        wpairs = _pairs_from_postings(buckets).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        n_wpairs = wpairs.count()
        wmissing = planted.join(wpairs, ["id_a", "id_b"], "left_anti").count()
        dt = time.time() - t0
        out["winnowing_postings"] = {
            "sec": round(dt, 2),
            "docs_per_sec": int(n_docs / dt),
            "pairs": int(n_wpairs),
            "pair_fraction": round(
                2.0 * n_wpairs / (n_docs * (n_docs - 1)), 8
            ),
            "planted_recall_1": bool(wmissing == 0),
        }
        wpairs.unpersist()
        planted.unpersist()
    finally:
        docs.unpersist()
    return out




def probe_similarity(spark, n_vecs: int, partitions: int) -> dict:
    """Similarity-family probe at ≥1M synthetic 64-d vectors (round 8):
    the family's largest direct measurement was sf0.1 (~5k vectors).
    Drives the two blocking primitives whose 100 TB story is
    "assignment is a broadcast argmin; data never moves":

    - IVF/SemDeDup centroid assignment: 16 centroids broadcast as a
      literal array, nearest-by-cosine argmin per vector (the
      ``similarity_ivf_topk`` / ``dedup_semantic_semdedup`` stage) —
      n_vecs × 16 cosine folds, zero shuffle before the cell counts.
    - Hyperplane LSH bucketing: 16 sign bits per vector packed to a
      long (the ``similarity_neardup_lsh`` stage), bucket histogram.

    Corpus (zero fixtures): v(id)[j] = (xxhash64(gen·67+j) mod 2e6+1
    − 1e6)/1e6 ∈ [−1, 1]; ids 0–15 are the centroid seeds; ids 16–31
    are PLANTED NEAR-DUPLICATES of the seeds (one dimension perturbed
    by +0.001 — random 64-d vectors are near-orthogonal, cos ≈ ±0.12,
    while the perturbed copy keeps cos ≈ 0.9999 to its seed), so the
    assignment gate is non-tautological: all 16 must land in their
    seed's cell or the probe fails."""
    from pyspark.sql import functions as F

    from datamodel_clinicaldata_spark.functions.vectors import dot, sign_bits
    from datamodel_clinicaldata_spark.operators.similarity import (
        _centroid_array_expr,
    )

    base = spark.range(n_vecs).repartition(partitions).withColumnRenamed(
        "id", "vec_id"
    )
    gen = F.when(
        (F.col("vec_id") >= 16) & (F.col("vec_id") < 32),
        F.col("vec_id") - 16,
    ).otherwise(F.col("vec_id"))
    raw = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda j: (
            (
                F.pmod(F.xxhash64(gen * 67 + j), F.lit(2_000_001))
                - F.lit(1_000_000)
            ).cast("double")
            / 1_000_000.0
        ),
    )
    vec = F.when(
        (F.col("vec_id") >= 16) & (F.col("vec_id") < 32),
        F.concat(
            F.array((F.element_at(raw, 1) + F.lit(0.001))),
            F.slice(raw, 2, 63),
        ),
    ).otherwise(raw)
    df = base.select("vec_id", vec.alias("v"))

    seeds = [
        [float(x) for x in r["v"]]
        for r in df.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    ]
    cent = _centroid_array_expr(seeds)
    vnorm = dot(F.col("v"), F.col("v"))
    scored = F.transform(
        cent,
        lambda c: F.struct(
            (
                -dot(F.col("v"), c["cvec"])
                / F.sqrt(vnorm * dot(c["cvec"], c["cvec"]))
            ).alias("negcos"),
            c["cid"].alias("cid"),
        ),
    )
    assigned = df.select(
        "vec_id",
        "v",
        F.slice(F.array_sort(scored), 1, 1)[0]["cid"].cast("int").alias("cid"),
    )

    t0 = time.time()
    cells = (
        assigned.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    ivf_sec = time.time() - t0
    # Arrow/GEMM assignment path (operators.similarity.assign_cells):
    # same contract, one BLAS matmul per batch — the production form
    # when oracle replay is not required.
    from datamodel_clinicaldata_spark.operators.similarity import assign_cells

    t0 = time.time()
    arrow_cells = (
        assign_cells(df, seeds, vec_col="v", impl="arrow")
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    ivf_arrow_sec = time.time() - t0
    assert sorted(r["n"] for r in arrow_cells) == sorted(
        r["n"] for r in cells
    ), "arrow assignment cell histogram diverged from the expr path"
    planted = {
        r["vec_id"]: r["cid"]
        for r in assigned.filter(
            (F.col("vec_id") >= 16) & (F.col("vec_id") < 32)
        ).collect()
    }
    ivf_recall = sum(
        1 for vid, cid in planted.items() if cid == vid - 16
    ) / 16.0
    assert ivf_recall == 1.0, f"planted IVF assignment broke: {planted}"

    # Dynamic √N sizing (VERDICT r9 #5): the fixed-16 run above shows the
    # assignment THROUGHPUT; this run shows why ivf_pair_candidates sizes
    # n_centroids = clamp(16, ⌊√N⌋, 4096) — max cell size (the unit of
    # candidate-join work per probed cell) must SHRINK by ~n_c/16 vs the
    # fixed-16 cells. Same lowest-id seeding, Arrow/GEMM assignment.
    import math

    n_c_dyn = min(4096, max(16, math.floor(math.sqrt(n_vecs))))
    dyn_seeds = [
        [float(x) for x in r["v"]]
        for r in df.filter(F.col("vec_id") < n_c_dyn).orderBy("vec_id").collect()
    ]
    t0 = time.time()
    dyn_cells = (
        assign_cells(df, dyn_seeds, vec_col="v", impl="arrow")
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.count(F.lit(1)).alias("cells"), F.max("n").alias("max_cell"))
        .collect()[0]
    )
    ivf_dyn_sec = time.time() - t0
    ivf_max_cell_16 = max(r["n"] for r in cells)
    assert int(dyn_cells["max_cell"]) < ivf_max_cell_16, (
        "dynamic √N sizing did not shrink the max cell: "
        f"{dyn_cells['max_cell']} vs fixed-16 {ivf_max_cell_16}"
    )

    import random

    rng = random.Random(43)
    planes = [
        [rng.uniform(-1.0, 1.0) for _ in range(64)] for _ in range(16)
    ]
    t0 = time.time()
    buckets = (
        df.select(sign_bits(F.col("v"), planes).alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("n").alias("max_bucket"),
            F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("cand_pairs"),
        )
        .collect()[0]
    )
    lsh_sec = time.time() - t0
    total_pairs = n_vecs * (n_vecs - 1) / 2
    return {
        "n_vecs": n_vecs,
        "ivf_assign_sec": round(ivf_sec, 1),
        "ivf_vecs_per_sec": int(n_vecs / ivf_sec),
        "ivf_cells": len(cells),
        "ivf_max_cell": max(r["n"] for r in cells),
        "ivf_planted_recall": ivf_recall,
        "ivf_arrow_sec": round(ivf_arrow_sec, 1),
        "ivf_arrow_vecs_per_sec": int(n_vecs / ivf_arrow_sec),
        "ivf_dyn_centroids": n_c_dyn,
        "ivf_dyn_cells": int(dyn_cells["cells"]),
        "ivf_dyn_max_cell": int(dyn_cells["max_cell"]),
        "ivf_dyn_sec": round(ivf_dyn_sec, 1),
        "lsh_bucket_sec": round(lsh_sec, 1),
        "lsh_vecs_per_sec": int(n_vecs / lsh_sec),
        "lsh_buckets": int(buckets["n_buckets"]),
        "lsh_max_bucket": int(buckets["max_bucket"]),
        "lsh_candidate_fraction": float(buckets["cand_pairs"]) / total_pairs,
    }


def probe_attribution(spark, rows: int, partitions: int) -> dict:
    """Scale probe for the linear-attribution shape
    (``events_attribution_linear``): per-user prefix-count window →
    touch⟶conversion equi-join → per-conversion count window → rollup.
    Two regimes: (a) ``rows`` events spread over 100k users — the
    throughput shape; (b) ``rows/10`` events on ONE user — the skew
    worst case (every window/join key identical, the whole stream
    through one partition). Exactness: user 1's attribution is replayed
    in pure Python from the same synthetic stream and compared
    touchpoint-for-touchpoint."""
    import time

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def attribute(df):
        wu = (
            Window.partitionBy("user_id")
            .orderBy("event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        seq = df.select(
            "user_id",
            "event_type",
            F.sum((F.col("event_type") == "purchase").cast("long"))
            .over(wu)
            .cast("long")
            .alias("psum"),
        )
        touches = seq.filter(
            F.col("event_type").isin("view", "click")
        ).select("user_id", "event_type", (F.col("psum") + 1).alias("conv_id"))
        convs = (
            seq.filter(F.col("event_type") == "purchase")
            .select("user_id", F.col("psum").alias("conv_id"))
            .distinct()
        )
        att = touches.join(convs, ["user_id", "conv_id"]).select(
            "user_id",
            "event_type",
            "conv_id",
            F.count(F.lit(1))
            .over(Window.partitionBy("user_id", "conv_id"))
            .cast("long")
            .alias("n_touch"),
        )
        return att

    out: dict = {}
    base = _synth(spark, rows, partitions).select(
        "event_id", "user_id", "event_type"
    )
    att = attribute(base)
    t0 = time.time()
    roll = (
        att.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_touch_rows"),
            F.sum(F.expr("1000000 div n_touch")).cast("long").alias("credit"),
        )
        .collect()
    )
    out["spread"] = {
        "rows": rows,
        "sec": round(time.time() - t0, 2),
        "rows_per_sec": int(rows / max(time.time() - t0, 1e-9)),
        "touch_rows": int(sum(r["n_touch_rows"] for r in roll)),
        "credit_e6": int(sum(r["credit"] for r in roll)),
    }

    # exactness: replay user 1 in Python
    u1 = sorted(
        base.filter(F.col("user_id") == 1).collect(),
        key=lambda r: r["event_id"],
    )
    psum, touches_py, convs_py = 0, [], set()
    for r in u1:
        if r["event_type"] == "purchase":
            psum += 1
            convs_py.add(psum)
        elif r["event_type"] in ("view", "click"):
            touches_py.append((r["event_type"], psum + 1))
    expected = sorted(
        (et, cid) for (et, cid) in touches_py if cid in convs_py
    )
    got = sorted(
        (r["event_type"], r["conv_id"])
        for r in att.filter(F.col("user_id") == 1).collect()
    )
    out["user1_exact"] = got == expected

    # skew regime: the whole stream on ONE user
    hot_rows = max(rows // 10, 1_000_000)
    hot = _synth(spark, hot_rows, partitions).select(
        "event_id",
        F.lit(0).cast("long").alias("user_id"),
        "event_type",
    )
    att_h = attribute(hot)
    t0 = time.time()
    n_hot = att_h.groupBy().agg(F.count(F.lit(1)).alias("n")).collect()[0]["n"]
    out["hot_user"] = {
        "rows": hot_rows,
        "sec": round(time.time() - t0, 2),
        "rows_per_sec": int(hot_rows / max(time.time() - t0, 1e-9)),
        "touch_rows": int(n_hot),
    }
    return out


def probe_label_propagation(spark, n_edges: int, partitions: int) -> dict:
    """2-round seeded label propagation at graph-probe scale (r8 verdict
    ask #6) — the ``graph_label_propagation`` plan shape (u-pinned
    checkpointed edge frame, broadcast labels, per-round vote aggregate
    + node-partitioned rank window) over ``n_edges`` synthetic edges
    with PLANTED two-community structure and a hot-hub skew regime:

    - nodes 0..N-1 (N = n_edges/10), community = node parity; node 0 /
      node 1 are the community hubs and the only SEEDS ('A' / 'B');
    - 20 % of edges attach systematically to the community hub (every
      node gets a direct hub edge — so 2 rounds MUST fully label the
      graph), mirroring the one-part-in-20 %-of-orders skew the verdict
      prescribed: the hub is one reduce key carrying n_edges/5 vote
      rows, collapsed by map-side partial aggregation;
    - the other 80 % are LCG intra-community edges (no cross edges), so
      EXACT recovery is the closed form: zero unlabeled, zero
      wrong-community labels after round 2.

    Edges are generated partition-parallel from the synthetic source's
    event_id (pure arithmetic, no fixtures) and symmetrized."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    half = max(n_edges // 20, 1)  # nodes per community; N = 2*half
    n_nodes = 2 * half
    base = _synth(spark, n_edges, partitions).select(
        F.col("event_id").alias("e"), (F.col("event_id") % 2).alias("c")
    )
    # hub edges land at e ≡ 0 (c=0) / e ≡ 5 (c=1) mod 10, so e div 10
    # cycles 0..n/10-1 WITHIN each community and covers every node offset
    # ≥ 2× (n/10 ≥ 2·half) — (e/5) % half would lock the offset's parity
    # to the community and skip half the nodes
    hub = base.filter(F.col("e") % 5 == 0).select(
        F.col("c").alias("u"),
        (((F.col("e") / 10).cast("long") % half) * 2 + F.col("c")).alias("v"),
    )
    # moderate multipliers keep products << 2^63 (ANSI-safe, no wrap)
    rnd = base.filter(F.col("e") % 5 != 0).select(
        ((F.col("e") * 2654435761 % 1_000_000_007) % half * 2 + F.col("c")).alias(
            "u"
        ),
        ((F.col("e") * 1103515245 % 998_244_353) % half * 2 + F.col("c")).alias(
            "v"
        ),
    )
    directed = hub.unionAll(rnd).filter(F.col("u") != F.col("v"))
    sym = directed.unionAll(directed.select(F.col("v").alias("u"), F.col("u").alias("v")))

    t0 = time.time()
    e = (
        sym.groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
        .repartition("u")
    )
    from datamodel_clinicaldata_spark.operators.graph import truncate_lineage

    e = truncate_lineage(e)
    labels = spark.range(n_nodes).select(
        F.col("id").alias("pk"),
        F.when(F.col("id") < 2, F.when(F.col("id") == 0, "A").otherwise("B")).alias(
            "lbl"
        ),
        (F.col("id") < 2).alias("seeded"),
    )

    def one_round(lab):
        nb = e.join(
            F.broadcast(
                lab.filter(F.col("lbl").isNotNull()).select(
                    F.col("pk").alias("v"), F.col("lbl").alias("nb_lbl")
                )
            ),
            "v",
        )
        votes = nb.groupBy(F.col("u").alias("pk"), F.col("nb_lbl")).agg(
            F.sum("w").cast("long").alias("votes")
        )
        wr = Window.partitionBy("pk").orderBy(
            F.col("votes").desc(), F.col("nb_lbl").asc()
        )
        cand = (
            votes.withColumn("rn", F.row_number().over(wr))
            .filter(F.col("rn") == 1)
            .select("pk", F.col("nb_lbl").alias("new_lbl"))
        )
        return lab.join(cand, "pk", "left").select(
            "pk",
            "seeded",
            F.when(F.col("seeded"), F.col("lbl"))
            .otherwise(F.coalesce(F.col("new_lbl"), F.col("lbl")))
            .alias("lbl"),
        )

    l2 = one_round(truncate_lineage(one_round(labels)))
    expected = F.when(F.col("pk") % 2 == 0, "A").otherwise("B")
    r = l2.agg(
        F.sum(F.col("lbl").isNull().cast("long")).alias("unlabeled"),
        F.sum((F.col("lbl") != expected).cast("long")).alias("wrong"),
    ).collect()[0]
    dt = time.time() - t0
    return {
        "edges": n_edges,
        "nodes": n_nodes,
        "sec": round(dt, 2),
        "edges_per_sec": int(n_edges / dt),
        "unlabeled": int(r["unlabeled"] or 0),
        "wrong_community": int(r["wrong"] or 0),
        "recovered_exactly": bool(
            (r["unlabeled"] or 0) == 0 and (r["wrong"] or 0) == 0
        ),
    }


def probe_streaming(spark, rows: int, partitions: int) -> dict:
    """Structured Streaming ingest throughput (round-9 addition): the
    synthetic DataSource's micro-batch stream reader feeding the
    watermark-family tumbling aggregate (one (window, event_type)
    shuffle, map-side partial agg) into a memory sink. Exactness gate:
    the stream's final COMPLETE-mode result must EQUAL the batch read
    of the same generator range through the same aggregate — the
    batch-replay-twin doctrine, here asserted at probe scale rather
    than fixture scale. Complete mode keeps the gate total (append
    would hold back the final un-closed window; the watermark/append
    semantics are pytest-covered in tests/test_streaming.py — this
    probe measures the ingest path).

    Timestamps derive from event_id (1k events/s of event-time), so
    rows/3.6M tumbling hours land in the result — bounded state at any
    probe size."""
    from pyspark.sql import functions as F

    from datamodel_clinicaldata_spark.sources.pydatasource import (
        SyntheticEventsDataSource,
    )
    from datamodel_clinicaldata_spark.streaming.windows import (
        tumbling_event_counts,
    )

    try:
        spark.dataSource.register(SyntheticEventsDataSource)
    except Exception:  # noqa: BLE001 — already registered in this session
        pass
    n_batches = 10
    opts = {
        "rows": rows,
        "partitions": partitions,
        "seed": 7,
        "users": 100_000,
        "batch_rows": -(-rows // n_batches),
    }

    def with_ts(df):
        return df.withColumn(
            "ts", F.timestamp_seconds((F.col("event_id") / 1000).cast("long"))
        )

    stream = spark.readStream.format("synthetic_events")
    for k, v in opts.items():
        stream = stream.option(k, v)
    agg = tumbling_event_counts(with_ts(stream.load()))
    # default trigger + processAllAvailable, NOT availableNow: the
    # engine resolves availableNow from ONE latestOffset poll, and this
    # source paces itself by advancing batch_rows per poll — availableNow
    # would stream exactly one micro-batch and stop
    sink = f"probe_stream_tumbling_{rows}"
    t0 = time.time()
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    dt = time.time() - t0
    got = sorted(map(tuple, spark.table(sink).collect()))
    batch = spark.read.format("synthetic_events")
    for k, v in opts.items():
        batch = batch.option(k, v)
    want = sorted(
        map(tuple, tumbling_event_counts(with_ts(batch.load())).collect())
    )
    n_streamed = sum(r[2] for r in got)
    # Exactness gate: keys + n_events compare EXACTLY; total_value (a
    # float sum whose accumulation order differs between the streaming
    # state merge and the one-shot batch agg) compares at a tolerance —
    # a per-window sum over millions of doubles landing near a .00005
    # boundary can round(…,4) to different sides, which is measurement
    # noise, not a correctness signal (ADVICE r9). 1e-3 on a 4-dp value
    # tolerates exactly that one-ulp-of-rounding split and nothing more.
    keys_counts_equal = [r[:3] for r in got] == [r[:3] for r in want]
    totals_close = len(got) == len(want) and all(
        abs(float(g[3]) - float(w[3])) <= 1e-3 for g, w in zip(got, want)
    )
    return {
        "rows": rows,
        "sec": round(dt, 2),
        "events_per_sec": int(rows / dt),
        "result_rows": len(got),
        "rows_streamed": int(n_streamed),
        "stream_equals_batch": bool(
            keys_counts_equal and totals_close and n_streamed == rows
        ),
    }


def run_probes(spark, rows: int = 50_000_000, partitions: int = 64) -> dict:
    out: dict = {"rows": rows, "partitions": partitions}
    w0, r0 = _shuffle_totals(spark)

    def _record(name: str, fn) -> None:
        # Incremental evidence (r12 — same doctrine as bench.py's
        # per-query flush): each probe's result goes to stderr the moment
        # it exists, so a crash in a LATER probe (both 200M-ladder
        # failures happened mid-run) still leaves every completed probe's
        # numbers on record instead of an all-or-nothing stdout JSON.
        out[name] = fn()
        print(f"PROBE {name}: {json.dumps(out[name])}", file=sys.stderr, flush=True)

    _record("prefix_rank", lambda: probe_prefix_rank(spark, rows, partitions))
    _record("sweep_line", lambda: probe_sweep_line(spark, rows, partitions))
    _record(
        "interval_join", lambda: probe_interval_join(spark, rows, partitions)
    )
    # Hot-key fold on ONE key: the skew worst case for the per-key array
    # recurrences. Pinned at the MEASURED single-buffer ceiling, not
    # scaled with the ladder (r12): 20M points in one collect_list buffer
    # is the proven bound on the default 48g local JVM; 40M OOM'd the
    # task outright (stage-28 Java heap space, 200M-ladder run 2). The
    # fold's contract is per-series length — a series beyond ~20M points
    # needs the segmented/windowed variant, not a bigger array row.
    _record(
        "hot_key_fold",
        lambda: probe_hot_key_fold(
            spark, min(max(rows // 5, 1_000_000), 20_000_000), partitions
        ),
    )
    # Dedup family at 1M+ docs (rows/50 at the default 50M).
    _record(
        "dedup",
        lambda: probe_dedup(spark, max(rows // 50, 1_000_000), partitions),
    )
    # Similarity family at 1M+ vectors (rows/50 at the default 50M).
    _record(
        "similarity",
        lambda: probe_similarity(spark, max(rows // 50, 1_000_000), partitions),
    )
    # Attribution shape at rows/5 events (10M at the default 50M).
    _record(
        "attribution",
        lambda: probe_attribution(spark, max(rows // 5, 1_000_000), partitions),
    )
    # Label propagation at rows/5 edges (10M at the default 50M),
    # hot-hub skew + planted-two-community exactness gate.
    _record(
        "label_propagation",
        lambda: probe_label_propagation(
            spark, max(rows // 5, 1_000_000), partitions
        ),
    )
    # Streaming ingest at rows/5 events (10M at the default 50M),
    # stream-equals-batch exactness gate through the tumbling aggregate.
    _record(
        "streaming",
        lambda: probe_streaming(
            spark, max(rows // 5, 1_000_000), min(partitions, 32)
        ),
    )
    w1, r1 = _shuffle_totals(spark)
    out["shuffle_write_bytes"] = w1 - w0
    out["shuffle_read_bytes"] = r1 - r0
    return out


def probe_dedup_engine_ops(
    spark, n_docs: int, partitions: int, sections: set[str] | None = None
) -> dict:
    """The r13 done-criterion probe (verdict r12 #3): the 4M-doc corpus
    that GC-killed the r12 run, pushed through the ENGINE operators —
    ``operators.dedup.winnowing_pairs`` / ``minhash_lsh_pairs`` /
    ``ngram_jaccard_pairs`` — not probe-local repartition code. The
    reduce-width doctrine now lives in ``partitioning.widen_expansion``
    inside those operators, so this probe passes only if the ENGINE
    plans survive the ~150M-distinct-key postings builds. Same corpus
    and closed-form gates as probe_dedup: docs in odd gid quads are
    verbatim clones → every C(4,2) pair must surface (planted recall
    strictly 1.0). Winnowing runs with n_rows_est=None to exercise the
    auto-count path; the others get the explicit estimate.

    ``sections`` (r14): restrict to a subset of
    {'winnowing','minhash','ngram'} — the alternating carried-size A/B
    (verdict r13 #3) re-runs only the ngram section, instead of paying
    the ~20 min winnowing section per arm."""
    import time

    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from datamodel_clinicaldata_spark.operators.dedup import (
        _pairs_from_postings,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        winnowing_pairs,
    )

    n_docs -= n_docs % 8
    grp = n_docs // 4
    gid = F.col("doc_id") % grp
    words = F.transform(
        F.sequence(F.lit(0), F.lit(17)),
        lambda j: F.substring(
            F.md5(
                F.pmod(F.xxhash64(gid * 131 + j), F.lit(100_000_000)).cast(
                    "string"
                )
            ),
            1,
            8,
        ),
    )
    salt = F.when(
        gid % 2 == 0, F.concat(F.lit("u"), F.col("doc_id"))
    ).otherwise(F.concat(F.lit("c"), gid))
    docs = (
        _synth(spark, n_docs, partitions)
        .select(F.col("event_id").alias("doc_id"))
        .select(
            "doc_id",
            F.array_join(F.concat(words, F.array(salt)), " ").alias("text"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    out: dict = {"n_docs": n_docs}
    try:
        planted = _pairs_from_postings(
            docs.filter(gid % 2 == 1)
            .groupBy(gid.alias("g"))
            .agg(F.collect_list("doc_id").alias("ids"))
        ).persist(StorageLevel.MEMORY_AND_DISK)
        n_planted = planted.count()
        out["planted_pairs"] = int(n_planted)

        # ENGINE winnowing operator, auto-count width path. Clones share
        # their entire fingerprint set (~dozens >= min_shared=3).
        if sections is None or "winnowing" in sections:
            t0 = time.time()
            wp = winnowing_pairs(docs, k=8, w=4)
            n_wp = wp.persist(StorageLevel.MEMORY_AND_DISK).count()
            wmiss = planted.join(wp, ["id_a", "id_b"], "left_anti").count()
            dt = time.time() - t0
            out["winnowing_engine"] = {
                "sec": round(dt, 2),
                "docs_per_sec": int(n_docs / dt),
                "pairs": int(n_wp),
                "planted_recall_1": bool(wmiss == 0),
            }
            wp.unpersist()

        # ENGINE MinHash+LSH operator END-TO-END (banding + exact-Jaccard
        # verification): clones agree on every band and verify at J=1.0.
        if sections is None or "minhash" in sections:
            t0 = time.time()
            mh = minhash_lsh_pairs(docs, num_hashes=32, bands=8, n_rows_est=n_docs)
            n_mh = mh.persist(StorageLevel.MEMORY_AND_DISK).count()
            mmiss = planted.join(mh, ["id_a", "id_b"], "left_anti").count()
            dt = time.time() - t0
            out["minhash_lsh_engine"] = {
                "sec": round(dt, 2),
                "docs_per_sec": int(n_docs / dt),
                "verified_pairs": int(n_mh),
                "planted_recall_1": bool(mmiss == 0),
            }
            mh.unpersist()

        # ENGINE inverted-index exact Jaccard (the _shingle_postings
        # sites): clones share all shingles → J=1.0 ≥ 0.9.
        if sections is None or "ngram" in sections:
            t0 = time.time()
            nj = ngram_jaccard_pairs(docs, threshold=0.9, n_rows_est=n_docs)
            n_nj = nj.persist(StorageLevel.MEMORY_AND_DISK).count()
            nmiss = planted.join(nj, ["id_a", "id_b"], "left_anti").count()
            dt = time.time() - t0
            out["ngram_jaccard_engine"] = {
                "sec": round(dt, 2),
                "docs_per_sec": int(n_docs / dt),
                "pairs": int(n_nj),
                "planted_recall_1": bool(nmiss == 0),
            }
            nj.unpersist()
        planted.unpersist()
    finally:
        docs.unpersist()
    return out


def probe_segmented_fold(spark, rows: int, partitions: int) -> dict:
    """The past-the-array-bound fold path (verdict r12 #7): ONE key
    holding ``rows`` points — past the measured 2×10⁷ single-array
    ceiling (4×10⁷ OOM'd the collect_list task, r12 ladder run 2) —
    driven through ``operators.folds.segmented_fold``, which threads the
    truncating EWMA/Holt accumulator through bounded segment arrays in
    order. Same closed forms as probe_hot_key_fold (constant input is a
    fixed point of both recurrences), so exactness can't be faked;
    expected rounds = ceil(rows / 10M)."""
    import time

    from pyspark.sql import functions as F

    from datamodel_clinicaldata_spark.operators.folds import segmented_fold

    v_const = 123_456_789
    base = _synth(spark, rows, partitions).select(
        F.lit(0).cast("long").alias("user_id"),
        F.struct(
            F.col("event_id").alias("t"),
            F.lit(v_const).cast("long").alias("v"),
        ).alias("p"),
    )

    def idiv10(x):
        m = ((x % 10) + 10) % 10
        return ((x - m).cast("decimal(38,0)") / F.lit(10)).cast("long")

    # one combined accumulator: EWMA level + Holt (level, trend)
    init = F.lit(None).cast("struct<e:bigint,l:bigint,b:bigint>")

    def step(acc, p):
        ewma = idiv10(8 * acc["e"] + 2 * p["v"])
        lvl = idiv10(2 * p["v"] + 8 * (acc["l"] + acc["b"]))
        trend = idiv10(3 * (lvl - acc["l"]) + 7 * acc["b"])
        return F.when(
            acc.isNull(),
            F.struct(
                p["v"].alias("e"),
                p["v"].alias("l"),
                F.lit(0).cast("long").alias("b"),
            ),
        ).otherwise(
            F.struct(ewma.alias("e"), lvl.alias("l"), trend.alias("b"))
        )

    seg_points = 10_000_000
    t0 = time.time()
    r = segmented_fold(
        base,
        ["user_id"],
        F.col("p"),
        init,
        step,
        max_segment_points=seg_points,
    ).collect()[0]
    dt = time.time() - t0
    acc = r["acc"]
    return {
        "series_points": rows,
        "segment_points": seg_points,
        "rounds": (rows + seg_points - 1) // seg_points,
        "sec": round(dt, 2),
        "points_per_sec": int(rows / dt),
        "ewma_exact": bool(acc["e"] == v_const),
        "holt_exact": bool(acc["l"] == v_const and acc["b"] == 0),
    }


def main() -> None:
    from datamodel_clinicaldata_spark.session import get_spark

    if "--segmented-fold" in sys.argv:
        rows = int(sys.argv[sys.argv.index("--segmented-fold") + 1])
        spark = get_spark("scale-probe-segmented-fold")
        res = probe_segmented_fold(spark, rows, partitions=64)
        print(
            f"PROBE segmented_fold: {json.dumps(res)}", file=sys.stderr, flush=True
        )
        spark.stop()
        print(json.dumps(res, indent=1))
        return
    if "--engine-docs" in sys.argv:
        n_docs = int(sys.argv[sys.argv.index("--engine-docs") + 1])
        sections = None
        if "--engine-sections" in sys.argv:
            sections = set(
                sys.argv[sys.argv.index("--engine-sections") + 1].split(",")
            )
        spark = get_spark("scale-probe-engine-ops")
        res = probe_dedup_engine_ops(spark, n_docs, partitions=256, sections=sections)
        print(f"PROBE dedup_engine_ops: {json.dumps(res)}", file=sys.stderr, flush=True)
        spark.stop()
        print(json.dumps(res, indent=1))
        return
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000_000
    spark = get_spark("scale-probe")
    res = run_probes(spark, rows)
    spark.stop()
    print(json.dumps(res, indent=1))


if __name__ == "__main__":
    main()
