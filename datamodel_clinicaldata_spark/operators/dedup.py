"""Deduplication operators for training-data pipelines — exact and near.

Five strategies, all shuffle-conscious:

- ``exact_dedup``: md5(content) → groupBy hash. One shuffle on a 16-byte
  key; at 100 TB this is the cheapest possible dedup (hash first, never
  shuffle the payload — only doc_id + digest move).
- ``ngram_jaccard_pairs``: exact n-gram Jaccard over candidate pairs from
  an inverted shingle index (explode → self-join on shingle). The index
  join is the scale play: O(sum of postings²) per shingle instead of O(n²)
  over the corpus; hot shingles are capped (df-style stop-shingle cut) to
  bound skew.
- ``minhash_lsh_pairs``: MinHash signatures + banded LSH. Signatures are
  a single-pass ``aggregate`` over xxhash64 shingle hashes (see
  ``minhash_signature``); bands explode to (band_id, band_hash) buckets →
  join within buckets. Tunable (b, r) for target Jaccard.
- ``simhash64``: 60-bit SimHash over token xxhash64 bits; near-dups =
  equal 15-bit bands (Hamming blocking).
- embedding-cosine near-dup lives in ``operators.similarity``
  (``cosine_neardup_pairs``): cosine ≥ τ pairs with LSH blocking.

Reference scope note: the reference's only dedup is full-row
``drop_duplicates()`` (``pandas_DataModel.py:161``) — covered by
``operators.relational.distinct_rows``. Everything here is the extension
surface mandated by BASELINE.json's north star.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datamodel_clinicaldata_spark.functions.text import word_shingles
from datamodel_clinicaldata_spark.operators.partitioning import (
    ensure_min_parallelism,
    source_rows_for_width,
    widen_expansion,
)

# Every operator here reads a corpus of (doc_id, text) rows. Shingles are
# word 3-grams.
_SHINGLE_K = 3


def exact_dedup_groups(df: DataFrame) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct content with the
    canonical (minimum) id and the duplicate count."""
    return (
        df.select(F.col("doc_id"), F.md5(F.col("text")).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _pairs_from_postings(grouped: DataFrame) -> DataFrame:
    """(id_a, id_b) candidate pairs from grouped posting lists — emitted
    INSIDE the aggregation row via nested array transforms (id_a < id_b by
    sorting the list first), then exploded and deduped.

    The SMALL-bucket path (MinHash bands: buckets ≈ near-dup groups, a
    handful of ids): postings shuffle ONCE (collect_list) and pair
    emission is a projection — no self-join shuffle. For HEAVY buckets
    (exact shingle postings, simhash bands over clustered corpora) the
    interpreted per-pair struct work loses to a JVM hash self-join —
    measured at sf0.1 — so those operators join instead."""
    ids = F.array_sort(F.col("ids"))
    pairs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        grouped.select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def _shingle_postings(
    df: DataFrame, max_postings: int | None, n_source_rows: int = 0
) -> DataFrame:
    """Inverted-index posting lists: (shingle, ids), hot shingles dropped.

    ``max_postings`` caps a shingle's posting list: a shingle occurring in
    more than that many docs generates quadratic candidate pairs and near
    zero signal (it's a stop-shingle) — dropping it bounds both skew and
    output size. ``None`` disables the cap (exact semantics — required
    wherever the result is cross-validated against an uncapped algorithm).
    Singleton shingles are dropped either way (no pair to emit).

    ``n_source_rows`` drives the reduce width of the postings groupBy
    (see ``partitioning.expansion_width`` — the r12 4M-doc GC wall):
    downstream consumers (re-explode + self-join on shingle) inherit the
    widened hash clustering, so no second exchange appears."""
    idx = df.select(
        F.col("doc_id"),
        F.explode(
            F.array_distinct(word_shingles(F.col("text"), _SHINGLE_K))
        ).alias("shingle"),
    )
    idx = widen_expansion(idx, "shingle", n_source_rows=n_source_rows)
    keep = F.size("ids") >= 2
    if max_postings is not None:
        keep = keep & (F.size("ids") <= max_postings)
    return (
        idx.groupBy("shingle")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(keep)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    max_postings: int | None = 200,
    n_rows_est: int | None = None,
) -> DataFrame:
    """Exact 3-token-shingle Jaccard for every candidate pair sharing at
    least one (non-stop) shingle. Output: (id_a, id_b, jaccard), id_a <
    id_b, jaccard ≥ threshold. ``n_rows_est``: source row count for the
    postings reduce width (auto-detected when None — see
    ``partitioning.source_rows_for_width``).

    Jaccard comes from co-occurrence COUNTING, not array intersection:
    the inverted-index self-join yields one row per shared shingle per
    pair, so ``groupBy(pair).count()`` IS |A∩B| (sets — postings are
    per-doc distinct), and J = c / (|A|+|B|−c) joining in the per-doc set
    sizes (a 2-column narrow table; AQE broadcasts it while it fits).
    This replaces the pair-distinct shuffle + two wide joins on the full
    shingle arrays + per-pair ``array_intersect`` with one count
    aggregate and two narrow joins.

    Exact while nothing is stop-capped (or with ``max_postings=None``);
    with a binding ``max_postings`` cap both c and the candidate set
    ignore capped (ubiquitous) shingles, while sizes still count them —
    Jaccard is then a lower bound. Oracle-matched callers must pair a
    capped call with the capped counting oracle
    (``queries_dedup._capped_pair_chain``) — advice r5: the uncapped
    list_intersect oracle silently diverges once any posting list
    crosses the cap."""
    n_src = source_rows_for_width(df, n_rows_est)
    df = ensure_min_parallelism(df)
    sizes = df.select(
        F.col("doc_id"),
        F.size(F.array_distinct(word_shingles(F.col("text"), _SHINGLE_K))).alias("n"),
    )
    # Heavy posting lists (shared-vocabulary shingles) pair off via a JVM
    # hash self-join — measured faster than in-array pair emission once
    # buckets grow past a few dozen ids (interpreted per-pair struct work
    # vs ns/row join probes). The capped postings re-explode into a
    # compact index; both join sides are the identical subplan, so Spark
    # reuses one exchange (ReusedExchange) for the self-join.
    idx = _shingle_postings(df, max_postings, n_src).select(
        "shingle", F.explode("ids").alias("doc_id")
    )
    a, b = idx.alias("a"), idx.alias("b")
    cond = (F.col("a.shingle") == F.col("b.shingle")) & (
        F.col("a.doc_id") < F.col("b.doc_id")
    )
    pair_counts = (
        a.join(b, cond)
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    na = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("__na"))
    nb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("__nb"))
    jac = F.col("__c") / (F.col("__na") + F.col("__nb") - F.col("__c"))
    return (
        pair_counts.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(df: DataFrame, max_postings: int | None = 200) -> DataFrame:
    """ASYMMETRIC set containment C(A,B) = |A∩B| / min(|A|,|B|) over
    candidate pairs sharing a (non-stop) shingle — the subset-duplicate
    detector: a short document embedded verbatim in a longer one scores
    near 1.0 here while symmetric Jaccard (÷ union) dilutes toward
    |A|/|B| and misses it. Same inverted-index counting plan as
    :func:`ngram_jaccard_pairs` (one postings self-join, c from
    ``groupBy(pair).count()``, sizes joined in narrow); only the
    denominator differs — ``least(|A|,|B|)`` instead of the union. Output
    (id_a, id_b, containment), id_a < id_b, containment ≥ 0.8.
    Capped-semantics note identical to the Jaccard variant: with a
    binding ``max_postings``, c ignores capped shingles while sizes count
    them (lower bound); oracle twins must replay the capped counting
    chain."""
    n_src = source_rows_for_width(df)
    df = ensure_min_parallelism(df)
    sizes = df.select(
        F.col("doc_id"),
        F.size(F.array_distinct(word_shingles(F.col("text"), _SHINGLE_K))).alias("n"),
    )
    idx = _shingle_postings(df, max_postings, n_src).select(
        "shingle", F.explode("ids").alias("doc_id")
    )
    a, b = idx.alias("a"), idx.alias("b")
    pair_counts = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    na = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("__na"))
    nb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("__nb"))
    cont = F.col("__c") / F.least(F.col("__na"), F.col("__nb"))
    return (
        pair_counts.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", cont.alias("containment"))
        .filter(F.col("containment") >= 0.8)
    )


def _lcg_longs(n: int) -> list[int]:
    """n deterministic signed-64 constants from a 64-bit LCG (portable,
    no RNG state)."""
    state = 0x5DEECE66D
    out = []
    for _ in range(n):
        state = (state * 6364136223846793005 + 1442695040888963407) & 0xFFFFFFFFFFFFFFFF
        out.append(state - (1 << 64) if state >= (1 << 63) else state)
    return out


def minhash_signature(content: Column, num_hashes: int) -> Column:
    """MinHash signature as array<long> in ONE pass over the shingle set:
    ``aggregate(xxhash64-per-shingle, [MAX]*H, zip_with(least(min, h XOR C_i)))``.

    The shingle-hash array appears exactly once in the expression tree, so
    it is evaluated once per row — a naive ``transform(0..H, i ->
    array_min(transform(shingles, ...)))`` re-evaluates the (expensive)
    shingle hashing H times because higher-order-function bodies run
    interpreted per element. xor-permutations of a well-mixed 64-bit base
    hash give per-slot-exact collision probability (x↦x⊕c is a bijection,
    so P(argmin lands in the intersection) = Jaccard exactly); slots are
    correlated across i, which only *raises* band-collision recall. All
    bitwise ops — safe under ANSI mode (no overflow)."""
    hashes = F.transform(
        F.array_distinct(word_shingles(content, _SHINGLE_K)), lambda s: F.xxhash64(s)
    )
    # One parsed SQL literal array, not 128 F.lit Column objects: the
    # per-Column form spent ~0.5 s of Python/py4j time per query BUILD
    # (which the bench times) — same values, same plan.
    consts = F.expr(
        "array(" + ",".join(f"{c}L" for c in _lcg_longs(num_hashes)) + ")"
    )
    init = F.array_repeat(F.lit((1 << 63) - 1).cast("long"), num_hashes)
    return F.aggregate(
        hashes,
        init,
        lambda acc, h: F.zip_with(acc, consts, lambda m, c: F.least(m, h.bitwiseXOR(c))),
    )


# Most recent persisted signature projection (see minhash_lsh_pairs) —
# the latest-call-wins lifecycle; guarded for concurrent callers.
_MINHASH_PERSIST_HANDLE: DataFrame | None = None
_MINHASH_PERSIST_LOCK = __import__("threading").Lock()


def minhash_lsh_pairs(
    df: DataFrame, num_hashes: int = 128, bands: int = 32, n_rows_est: int | None = None
) -> DataFrame:
    """MinHash + banded LSH near-dup detection: pairs with shingle
    Jaccard ≥ 0.5.

    rows-per-band r = num_hashes/bands; candidate pairs = docs agreeing on
    all r rows of ≥1 band; each candidate is then verified with exact
    shingle Jaccard (no false positives; miss prob for j ≥ t is
    (1-t^r)^b — ~1e-7 at defaults for j=0.5).

    Scale shape: signatures are a projection (no shuffle); the explode is
    ×bands (not ×shingles); one shuffle on (band, band_hash); bucket join
    output is bounded by bucket sizes. This is the 100 TB path — the
    inverted-index exact join in ``ngram_jaccard_pairs`` is the small-corpus
    path.
    """
    r = num_hashes // bands
    n_src = source_rows_for_width(df, n_rows_est)
    df = ensure_min_parallelism(df)
    docs = df.select(
        F.col("doc_id"),
        F.array_distinct(word_shingles(F.col("text"), _SHINGLE_K)).alias("shingles"),
        minhash_signature(F.col("text"), num_hashes).alias("sig"),
    )
    # Three plan branches read this projection (banding + both sides of
    # the verification join); without a persist each branch re-tokenizes
    # and re-hashes the whole corpus. MEMORY_AND_DISK: at 100 TB the
    # shingle+signature projection spills rather than OOMs — the same
    # role a materialized signature table plays in a production pipeline.
    # Lifecycle is latest-call-wins: a long-lived session calling this
    # repeatedly must not accumulate cached projections, so each call
    # releases the previous one (at most one live handle per process; an
    # older still-running plan just falls back to deterministic recompute).
    from pyspark import StorageLevel

    global _MINHASH_PERSIST_HANDLE
    docs = docs.persist(StorageLevel.MEMORY_AND_DISK)
    with _MINHASH_PERSIST_LOCK:
        prev, _MINHASH_PERSIST_HANDLE = _MINHASH_PERSIST_HANDLE, docs
    if prev is not None:
        try:
            prev.unpersist()
        except Exception:  # noqa: BLE001 — session may already be stopped
            pass
    banded = docs.select(
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
    # Reduce width scales with corpus size (r12 4M-doc GC wall): the
    # bucket groupBy's key cardinality ≈ n_docs × bands.
    banded = widen_expansion(banded, "band", "bh", n_source_rows=n_src)
    cand = _pairs_from_postings(
        banded.groupBy("band", "bh")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    da = docs.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    db = docs.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.greatest(
        F.size(F.array_union("sh_a", "sh_b")), F.lit(1)
    )
    return (
        cand.join(da, "id_a")
        .join(db, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )


def simhash64(content: Column, hash_mode: str = "xxhash64") -> Column:
    """60-bit SimHash from token unit-hash values: per bit, sum of ±1
    votes across unit hashes; bit set when the vote is positive.

    ONE aggregate pass over the unit-hash array (the previous shape — one
    ``F.aggregate`` per bit — re-evaluated the hash array 60× because HOF
    bodies run interpreted per element). The vote vector is an array<int>
    accumulator zip_with'd against a constant bit-mask array; bitwise-only,
    ANSI-safe, no UDF, no shuffle.

    ``hash_mode``: ``'xxhash64'`` (default — fastest, JVM-side) or
    ``'md5'`` — the top 60 bits of md5, which has an exact ANSI-SQL twin
    (``CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)``), so results are
    replayable by a cross-engine oracle; xxhash64 has no SQL equivalent.

    ``content`` may be an arbitrary expression — the fold reads the
    unit-hash array exactly ONCE, so it is lambda-scope-CSE-safe."""
    hashes = simhash_unit_hashes(content, hash_mode=hash_mode)
    # One parsed literal array (not 60×2 py4j Column calls) — same
    # values, same plan, ~0.2 s less Python time per query build.
    masks = F.expr("array(" + ",".join(f"{1 << i}L" for i in range(60)) + ")")
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 60),
        lambda acc, h: F.zip_with(
            acc, masks, lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1)
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes, masks, lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def simhash_unit_hashes(content: Column, hash_mode: str = "xxhash64") -> Column:
    """The distinct-token unit-hash array SimHash votes over — split out
    so callers can HOIST it to a named column before a multi-reference
    fold (the ``gram_hashes`` / ``winnow_from_hashes`` hoisting
    doctrine)."""
    units = F.array_distinct(F.split(F.trim(content), r"\s+"))
    if hash_mode == "xxhash64":
        unit_hash = F.xxhash64
    elif hash_mode == "md5":
        def unit_hash(s):  # 60-bit md5 prefix: ANSI-safe positive long
            return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    else:
        raise ValueError(f"hash_mode must be xxhash64|md5, got {hash_mode!r}")
    return F.transform(units, lambda s: unit_hash(s))


def simhash_band_pairs(df: DataFrame, hash_mode: str = "xxhash64") -> DataFrame:
    """SimHash near-dup blocking: docs sharing any of the 4 15-bit bands of
    their simhash (Hamming-distance blocking: distance ≤ 3 guarantees ≥1
    equal band). Output: (id_a, id_b, hamming) with ``hamming ≤ 3``, so
    the banding finds every such pair. ``hash_mode`` — see
    ``simhash64``."""
    from datamodel_clinicaldata_spark.operators.graph import truncate_lineage

    n_src = source_rows_for_width(df)
    # r14: the (id, sh) frame is LAZILY PINNED. The 4 band structs + both
    # hamming sides reference `sh`, and the optimizer inlines the fold
    # into them — measured: the whole hash+fold subtree ×4 in the
    # optimized plan, 8 md5 corpus transforms across the self-join —
    # so each doc's simhash was computed up to 8× (alternating A/B at
    # sf0.1: pinned 1.74 s vs unpinned 12.73 s min). The pin computes it
    # once; downstream reads materialized 8-byte values. Narrow rows;
    # reliable-checkpoint doctrine applies via truncate_lineage.
    sh = truncate_lineage(
        ensure_min_parallelism(df).select(
            F.col("doc_id"),
            simhash64(F.col("text"), hash_mode=hash_mode).alias("sh"),
        ),
        eager=False,
    )
    banded = sh.select(
        "doc_id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("sh"), b * 15)
                        .bitwiseAND(F.lit((1 << 15) - 1))
                        .alias("bv"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "sh", "bb.band", "bb.bv")
    # Similar-document clusters make simhash band buckets HEAVY (hundreds
    # of ids), so candidates pair off via the JVM hash self-join (faster
    # than in-array emission for big buckets — see ngram_jaccard_pairs);
    # the Hamming bound lives in the join condition so non-near pairs die
    # before the dedup shuffle. Both aliases share the widened exchange
    # (identical subplan → ReusedExchange).
    banded = widen_expansion(banded, "band", "bv", n_source_rows=n_src)
    a, b = banded.alias("a"), banded.alias("b")
    hamming = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    cond = (
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bv") == F.col("b.bv"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (hamming <= 3)
    )
    return (
        a.join(b, cond)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .distinct()
    )


def dedup_keep_first(df: DataFrame) -> DataFrame:
    """Row-preserving exact dedup: keep the minimum-id row per distinct
    content (row_number over the content-hash partition). ONE shuffle and
    no join — strictly better at any scale than aggregating keeper ids and
    semi-joining them back (which shuffles twice, and whose keeper set is
    corpus-sized, so it must never be broadcast). Only the 16-byte digest
    is the shuffle key; payload columns ride along untouched."""
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def substring_span_stats(df: DataFrame) -> DataFrame:
    """Substring-level duplication stats: every length-5 token window
    ("span") of every document, counted corpus-wide; per document, how
    many of its span positions are duplicated anywhere in the corpus.

    This is the scalable reduction of exact substring deduplication
    (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): the paper's suffix-array pass finds duplicated substrings of
    ≥ k tokens; restricting matches to token-window alignment (k = 5)
    turns it into hash-groupBy over rolling 5-gram windows — the form that
    distributes. Shuffle discipline: spans are reduced to 64-bit
    ``xxhash64`` keys BEFORE the shuffle, so the exchange carries
    (doc_id, int64) instead of k-token strings (collisions: ~m²·2⁻⁶⁵ for
    m corpus spans — negligible even at 100 TB, same trade Lee et al.
    make). Plan: explode windows → ONE shuffle on the span hash (window
    count over the hash partition) → second shuffle on doc_id for the
    per-doc rollup. No joins, no driver-side state.

    Documents shorter than 5 tokens have no spans and drop out (the
    oracle's ``unnest`` of an empty list does the same).
    """
    from pyspark.sql import Window

    toks = F.split(F.trim(F.col("text")), r"\s+")
    d = (
        df.select(F.col("doc_id"), toks.alias("__toks"))
        .withColumn("__n", F.size("__toks"))
        .filter(F.col("__n") >= 5)
    )
    spans = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.col("__n") - 5),
                lambda i: F.xxhash64(F.array_join(F.slice("__toks", i + 1, 5), " ")),
            )
        ).alias("__h"),
    )
    counted = spans.withColumn(
        "__cnt", F.count("*").over(Window.partitionBy("__h"))
    )
    from datamodel_clinicaldata_spark.functions.vectors import round_fixed

    return (
        counted.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_spans"),
            F.sum((F.col("__cnt") > 1).cast("long")).alias("n_dup_spans"),
            F.max("__cnt").cast("long").alias("max_span_freq"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            "max_span_freq",
            round_fixed(F.col("n_dup_spans") / F.col("n_spans")).alias("dup_frac"),
        )
    )


def prefix_filtered_jaccard_pairs(df: DataFrame, n_rows_est: int | None = None) -> DataFrame:
    """Exact Jaccard ≥ τ = 0.5 pairs via PREFIX FILTERING (Bayardo et al.
    WWW'07 "Scaling Up All Pairs Similarity Search"; Chaudhuri et al.
    ICDE'06): order every document's shingles by ascending global
    document frequency (rarest first, ties on the shingle string) and
    index only the first ``|sh| − ⌈τ·|sh|⌉ + 1`` of them — the prefix
    principle guarantees any pair with Jaccard ≥ τ shares at least one
    PREFIX shingle, so recall is exactly 1 while the index (and the
    self-join behind it) shrinks by ~τ/(1+τ): the candidate generator
    skips precisely the common shingles that produce the fattest posting
    lists. The third independent algorithm oracle-matched to the same
    exact answer as the inverted-index and MinHash-LSH paths.

    Scale shape: one df-count aggregation, one per-doc rank (partitioned
    window), the PREFIX-only self-join (the win), then exact
    array-intersect verification on surviving candidates only."""
    from pyspark.sql import Window

    n_src = source_rows_for_width(df, n_rows_est)
    df = ensure_min_parallelism(df)
    # Shingles travel as xxhash64 LONGS end-to-end (index, rank, verify
    # arrays): the prefix principle only needs both documents to rank by
    # the SAME consistent global order, and (df asc, hash asc) is one —
    # recall stays exactly 1 while postings/arrays shrink from k-token
    # strings to 8 bytes (collisions ~2⁻⁶⁴, the substring-span trade).
    sh = (
        df.select(
            F.col("doc_id"),
            F.array_distinct(
                F.transform(
                    word_shingles(F.col("text"), _SHINGLE_K), lambda x: F.xxhash64(x)
                )
            ).alias("__sh"),
        )
        .withColumn("__n", F.size("__sh"))
        .filter(F.col("__n") > 0)
    )
    posts = sh.select("doc_id", "__n", F.explode("__sh").alias("shingle"))
    # df-count groupBy key cardinality ≈ distinct shingles across the
    # corpus (~10⁸ at 4M docs) — widen its reduce side with corpus size;
    # the posts⋈dfreq equi-join on shingle reuses the same clustering.
    posts = widen_expansion(posts, "shingle", n_source_rows=n_src)
    dfreq = posts.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("__df").asc(), F.col("shingle").asc()
    )
    prefix_len = F.col("__n") - F.ceil(F.lit(0.5) * F.col("__n")) + 1
    pre = (
        posts.join(dfreq, "shingle")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= prefix_len)
        .select("doc_id", "shingle")
    )
    a, b = pre.alias("a"), pre.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    xa = sh.select(
        F.col("doc_id").alias("id_a"), F.col("__sh").alias("__sha"), F.col("__n").alias("__na")
    )
    xb = sh.select(
        F.col("doc_id").alias("id_b"), F.col("__sh").alias("__shb"), F.col("__n").alias("__nb")
    )
    inter = F.size(F.array_intersect(F.col("__sha"), F.col("__shb")))
    jac = inter / (F.col("__na") + F.col("__nb") - inter)
    return (
        cand.join(xa, "id_a")
        .join(xb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )


def winnowing_pairs(
    df: DataFrame, k: int = 16, w: int = 8, n_rows_est: int | None = None
) -> DataFrame:
    """Near-dup candidate pairs by SHARED WINNOWING FINGERPRINTS (the
    MOSS plagiarism-detection shape — Schleimer/Wilkerson/Aiken,
    SIGMOD'03): documents sharing ≥ 3 window-minimum k-gram
    hashes almost surely share ≥ k+w−1 characters of verbatim text per
    shared fingerprint. Capped-postings plan, same doctrine as the
    shingle-index family: a fingerprint held by > 5000 docs
    is a stop-gram (dropped, bounding the self-join's skew);
    fingerprints are distinct per document, so the pair count equals the
    shared-fingerprint count with no dedup pass. One explode + one
    capped postings self-join + one aggregate. Output:
    (id_a, id_b, n_shared), id_a < id_b, n_shared ≥ 3.

    Promoted from ``queries_text.dedup_winnowing_pairs`` (r13) so the
    reduce-width doctrine lives in the ENGINE, not the probe: at 4M docs
    the postings groupBy sees ~150M distinct fingerprint keys, and
    through a 32-partition exchange that GC-killed a 48 GiB JVM (r12
    scale ladder). ``widen_expansion`` sizes the exchange to the corpus;
    the capped self-join reuses the same hash clustering."""
    from datamodel_clinicaldata_spark.functions.text import (
        gram_hashes,
        winnow_from_hashes,
    )
    from datamodel_clinicaldata_spark.operators.graph import truncate_lineage

    n_src = source_rows_for_width(df, n_rows_est)
    # compute-dense spread (measured 5.4 s -> 1.4 s at sf0.1: the ~10M
    # md5 postings build otherwise runs on the scan's single partition)
    d = ensure_min_parallelism(df, "doc_id")
    post = d.withColumn("__hs", gram_hashes(F.col("text"), k=k)).select(
        F.col("doc_id").alias("doc_id"),
        F.explode(winnow_from_hashes(F.col("__hs"), w=w)).alias("fp"),
    )
    # Reduce width scales with corpus size BEFORE the lineage pin, so
    # the pinned copy is already fp-clustered at the widened width and
    # all three consumers (cap aggregate + both self-join sides) inherit
    # it without another exchange.
    post = widen_expansion(post, "fp", n_source_rows=n_src)
    # Materialize once: the postings feed THREE plan branches (the cap
    # aggregate and both self-join sides), and each would otherwise
    # re-run the full gram-hash + winnow evaluation (~2k md5 per doc per
    # pass — measured ~4× the row's cost at sf0.1). Narrow (id, fp)
    # rows, so the pinned copy is small. Pinned via truncate_lineage so
    # SPARK_GRAFT_CHECKPOINT=reliable swaps it to a durable checkpoint
    # fleet-wide.
    post = truncate_lineage(post, eager=False)
    ok = (
        post.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") <= 5000)
        .select("fp")
    )
    p2 = post.join(ok, "fp")
    a = p2.select(F.col("doc_id").alias("id_a"), "fp")
    b = p2.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )
