"""Stage-level decomposition of the winnowing engine path (guide §1:
measure before changing). The 4M-doc probe shows winnowing at 3.4 k
docs/s vs minhash's 42 k — this isolates WHERE the time goes before any
rewrite:

    python tools/winnow_decompose.py <n_docs>

Stages timed separately, each with a noop sink and a job description:
  1. corpus synth only (the shared probe corpus, persisted)
  2. fingerprint build: gram_hashes + winnow_from_hashes + explode
     (the posts frame, BEFORE the lineage pin)
  3. postings cap aggregate + self-join + pair count (given pinned posts)
  4. the whole operator end-to-end (cross-check: ≈ 2 + 3)
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def noop(df):
    df.write.mode("overwrite").format("noop").save()


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    from datamodel_clinicaldata_spark.session import get_spark

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from scale_probe import _synth  # probe corpus generator

    from datamodel_clinicaldata_spark.functions.text import (
        gram_hashes,
        winnow_from_hashes,
    )
    from datamodel_clinicaldata_spark.operators.dedup import winnowing_pairs
    from datamodel_clinicaldata_spark.operators.graph import truncate_lineage
    from datamodel_clinicaldata_spark.operators.partitioning import (
        ensure_min_parallelism,
        widen_expansion,
    )

    spark = get_spark("winnow-decompose")
    sc = spark.sparkContext
    from pyspark import StorageLevel

    n_docs -= n_docs % 8
    grp = n_docs // 4
    gid = F.col("doc_id") % grp
    words = F.transform(
        F.sequence(F.lit(0), F.lit(17)),
        lambda j: F.substring(
            F.md5(
                F.pmod(F.xxhash64(gid * 131 + j), F.lit(100_000_000)).cast("string")
            ),
            1,
            8,
        ),
    )
    salt = F.when(gid % 2 == 0, F.concat(F.lit("u"), F.col("doc_id"))).otherwise(
        F.concat(F.lit("c"), gid)
    )
    docs = (
        _synth(spark, n_docs, 256)
        .select(F.col("event_id").alias("doc_id"))
        .select(
            "doc_id",
            F.array_join(F.concat(words, F.array(salt)), " ").alias("text"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    out = {"n_docs": n_docs}

    sc.setJobDescription("winnow-decompose: corpus synth")
    t0 = time.time()
    n = docs.count()
    out["synth_sec"] = round(time.time() - t0, 2)
    print(f"corpus: {n} docs in {out['synth_sec']}s", flush=True)

    k, w = 8, 4
    d = ensure_min_parallelism(docs, "doc_id")
    posts_expr = d.withColumn("__hs", gram_hashes(F.col("text"), k=k)).select(
        F.col("doc_id"),
        F.explode(winnow_from_hashes(F.col("__hs"), w=w)).alias("fp"),
    )

    sc.setJobDescription("winnow-decompose: fingerprint build only")
    t0 = time.time()
    noop(posts_expr)
    out["fingerprint_build_sec"] = round(time.time() - t0, 2)
    print(f"fingerprint build: {out['fingerprint_build_sec']}s", flush=True)

    # gram_hashes alone (no winnow, no explode) — splits hash cost from
    # the window-min scan.
    sc.setJobDescription("winnow-decompose: gram_hashes only")
    t0 = time.time()
    noop(d.select("doc_id", gram_hashes(F.col("text"), k=k).alias("__hs")))
    out["gram_hashes_sec"] = round(time.time() - t0, 2)
    print(f"gram_hashes only: {out['gram_hashes_sec']}s", flush=True)

    # pair stage over PINNED posts (what the operator's self-join pays
    # once the pin has materialized).
    posts = widen_expansion(posts_expr, "fp", n_source_rows=n_docs)
    sc.setJobDescription("winnow-decompose: pin posts")
    t0 = time.time()
    pinned = truncate_lineage(posts, eager=True)
    out["pin_sec"] = round(time.time() - t0, 2)
    print(f"pin: {out['pin_sec']}s", flush=True)

    ok = (
        pinned.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") <= 5000)
        .select("fp")
    )
    p2 = pinned.join(ok, "fp")
    a = p2.select(F.col("doc_id").alias("id_a"), "fp")
    b = p2.select(F.col("doc_id").alias("id_b"), "fp")
    pairs = (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )
    sc.setJobDescription("winnow-decompose: pair stage from pinned posts")
    t0 = time.time()
    noop(pairs)
    out["pair_stage_sec"] = round(time.time() - t0, 2)
    print(f"pair stage: {out['pair_stage_sec']}s", flush=True)

    sc.setJobDescription("winnow-decompose: whole operator")
    t0 = time.time()
    noop(
        winnowing_pairs(docs, k=k, w=w)
    )
    out["end_to_end_sec"] = round(time.time() - t0, 2)
    print(f"end to end: {out['end_to_end_sec']}s", flush=True)

    import json

    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
