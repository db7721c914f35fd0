"""Training-data curation queries — the operations a 100 TB pretraining
pipeline layers on top of dedup/similarity/text-quality: repetition
screens, deterministic sampling, mixture weighting, sequence packing, PII
redaction. All over the ``documents`` table; every query except the
greedy packer has an exact DuckDB oracle.

The reference has no analog surface (it is a clinical cohort pipeline);
these extend the engine per the extension charter (SURVEY.md §7.6,
BASELINE north star).

Determinism policy: sampling uses an explicit Knuth-multiplicative key
``(id * 2654435761) % m`` instead of ``rand()`` / ``xxhash64`` — it is
reproducible, partition-count-independent, AND replayable in ANSI SQL so
the oracle can verify the exact row set (xxhash64 has no DuckDB twin).
The multiply runs in exact DECIMAL(38,0) arithmetic on the Spark side and
HUGEINT on the DuckDB side (``functions.sampling``), so it cannot overflow
— ANSI mode throws on BIGINT overflow, and a raw long multiply would crash
at key ranges above ~3.5e9, i.e. exactly the 100 TB design point.

Float policy: ratio-shaped metrics emit integer numerator/denominator
pairs, never the quotient (quotients of small ints land on exactly-
representable half-ties where JVM and DuckDB rounding disagree — see
registry module docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datamodel_clinicaldata_spark.functions.sampling import knuth_mod, knuth_mod_sql
from datamodel_clinicaldata_spark.functions.text import tokens, word_shingles
from datamodel_clinicaldata_spark.operators.packing import (
    greedy_pack_bins,
    quota_chunk_bins,
)
from datamodel_clinicaldata_spark.registry import register
from datamodel_clinicaldata_spark.operators.partitioning import ensure_min_parallelism
from datamodel_clinicaldata_spark.sources.readers import read_table

_TOKS = "string_split_regex(trim(text), '\\s+')"


# ---------------------------------------------------------------------------
# Repetition quality (Gopher-style screens: most-repeated unigram/bigram)
# ---------------------------------------------------------------------------
@register(
    "text_repetition_topgram",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
    ), tc AS (
      SELECT doc_id, count(*) AS cnt FROM toks GROUP BY doc_id, tok
    ), uni AS (
      SELECT doc_id, CAST(max(cnt) AS BIGINT) AS top_token_cnt,
             CAST(sum(cnt) AS BIGINT) AS n_tokens
      FROM tc GROUP BY doc_id
    ), bgs AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len({_TOKS}) - 1, 1) + 1),
                                   i -> array_to_string(({_TOKS})[i : i + 1], ' ')))
               AS bg
      FROM documents
    ), bc AS (
      SELECT doc_id, count(*) AS cnt FROM bgs GROUP BY doc_id, bg
    ), bi AS (
      SELECT doc_id, CAST(max(cnt) AS BIGINT) AS top_bigram_cnt,
             CAST(sum(cnt) AS BIGINT) AS n_bigrams
      FROM bc GROUP BY doc_id
    )
    SELECT uni.doc_id, top_token_cnt, n_tokens, top_bigram_cnt, n_bigrams
    FROM uni JOIN bi ON uni.doc_id = bi.doc_id
    """,
)
def text_repetition_topgram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-repeated unigram/bigram counts per document — the repetition
    screens from Gopher-style quality filtering (Rae et al. 2021, table A1:
    drop docs whose top n-gram covers too much of the text). Counts are
    emitted with their denominators; the caller thresholds the ratio.

    Shape: explode → two-level hash agg (partial agg collapses each doc's
    token stream map-side, so the shuffle carries (doc_id, gram) counts,
    not raw grams); the unigram and bigram branches then join on doc_id.
    """
    d = ensure_min_parallelism(read_table(spark, sf_dir, "documents"), "doc_id")
    uni = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .count()
        .groupBy("doc_id")
        .agg(
            F.max("count").cast("long").alias("top_token_cnt"),
            F.sum("count").cast("long").alias("n_tokens"),
        )
    )
    bi = (
        d.select("doc_id", F.explode(word_shingles(F.col("text"), 2)).alias("bg"))
        .groupBy("doc_id", "bg")
        .count()
        .groupBy("doc_id")
        .agg(
            F.max("count").cast("long").alias("top_bigram_cnt"),
            F.sum("count").cast("long").alias("n_bigrams"),
        )
    )
    return uni.join(bi, "doc_id").select(
        "doc_id", "top_token_cnt", "n_tokens", "top_bigram_cnt", "n_bigrams"
    )


# ---------------------------------------------------------------------------
# Deterministic sampling
# ---------------------------------------------------------------------------
@register(
    "sample_stratified_orders",
    f"""
    SELECT o_orderkey, o_orderpriority, o_totalprice
    FROM (
      SELECT o_orderkey, o_orderpriority, o_totalprice,
             row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY {knuth_mod_sql('o_orderkey', 1000000007)}, o_orderkey
             ) AS rn
      FROM orders
    ) WHERE rn <= 100
    """,
)
def sample_stratified_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sample: exactly 100 orders per priority stratum, chosen
    by a deterministic multiplicative-hash shuffle order (uniform within
    the stratum, stable across runs/partitionings). Per-stratum top-k via
    row_number → Spark plans a partial per-partition top-k before the
    single stratum shuffle."""
    o = read_table(spark, sf_dir, "orders")
    key = knuth_mod("o_orderkey", 1000000007)
    w = Window.partitionBy("o_orderpriority").orderBy(key, F.col("o_orderkey"))
    return (
        o.select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 100)
        .drop("rn")
    )


@register(
    "sample_weighted_mixture",
    f"""
    SELECT doc_id, source, lang
    FROM documents
    WHERE {knuth_mod_sql('doc_id', 100)} <
      CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 80
           WHEN source IN ('src5','src6','src7','src8','src9') THEN 50
           ELSE 20 END
    """,
)
def sample_weighted_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture weighting: per-source keep-rates (80% / 50% / 20% tiers)
    applied as a deterministic hash-mod Bernoulli — the standard way to
    re-weight corpus sources for a training mix. Pure filter (no shuffle);
    the predicate is partition-pruning-friendly when the corpus is laid
    out by source."""
    d = read_table(spark, sf_dir, "documents")
    tier = (
        F.when(F.col("source").isin([f"src{i}" for i in range(5)]), 80)
        .when(F.col("source").isin([f"src{i}" for i in range(5, 10)]), 50)
        .otherwise(20)
    )
    return d.filter(knuth_mod("doc_id", 100) < tier).select(
        "doc_id", "source", "lang"
    )


# ---------------------------------------------------------------------------
# Sequence packing
# ---------------------------------------------------------------------------
_PACK_BUDGET = 512


@register(
    "pack_sequences_quota",
    f"""
    WITH t AS (
      SELECT doc_id, source, len({_TOKS}) AS n_tokens FROM documents
    ), c AS (
      SELECT doc_id, source, n_tokens,
             sum(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM t
    )
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(floor((cum - n_tokens) / {_PACK_BUDGET}) AS BIGINT) AS bin_id
    FROM c
    """,
)
def pack_sequences_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-sum chunking of each source's doc stream into
    ~512-token training bins (window cumsum; bins overflow by at most one
    doc — the fixed-order streaming packer)."""
    d = read_table(spark, sf_dir, "documents")
    t = d.select("doc_id", "source", F.size(tokens(F.col("text"))).alias("n_tokens"))
    return quota_chunk_bins(t, budget=_PACK_BUDGET)


@register(
    "pack_sequences_greedy",
    f"""
    WITH RECURSIVE t AS (
      SELECT doc_id, source, len({_TOKS}) AS n_tokens,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    ), walk AS (
      SELECT source, rn, doc_id, n_tokens,
             0 AS bin_id, n_tokens AS filled
      FROM t WHERE rn = 1
      UNION ALL
      SELECT t.source, t.rn, t.doc_id, t.n_tokens,
             CASE WHEN w.filled + t.n_tokens > {_PACK_BUDGET}
                  THEN w.bin_id + 1 ELSE w.bin_id END,
             CASE WHEN w.filled + t.n_tokens > {_PACK_BUDGET}
                  THEN t.n_tokens ELSE w.filled + t.n_tokens END
      FROM walk w JOIN t ON t.source = w.source AND t.rn = w.rn + 1
    )
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(bin_id AS BIGINT) AS bin_id
    FROM walk
    """,
)
def pack_sequences_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True greedy reset packing (new bin when the next doc would overflow
    512 tokens) via applyInPandas per source group; invariants asserted in
    tests/test_text.py. The oracle replays the sequential fold as a
    recursive CTE walking each source's doc stream in doc_id order (one
    recursion level per row — feasible at oracle scale, which is the
    point: the fold itself is what ``applyInPandas`` distributes)."""
    d = read_table(spark, sf_dir, "documents")
    t = d.select("doc_id", "source", F.size(tokens(F.col("text"))).alias("n_tokens"))
    return greedy_pack_bins(t, budget=_PACK_BUDGET)


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------
@register(
    "pii_redact",
    r"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                            '<EMAIL>', 'g'),
             '[0-9]{4,}', '<NUM>', 'g') AS redacted,
           CAST(length(text) AS BIGINT) AS n_chars_before,
           CAST(length(regexp_replace(
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                            '<EMAIL>', 'g'),
             '[0-9]{4,}', '<NUM>', 'g')) AS BIGINT) AS n_chars_after
    FROM documents
    """,
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII scrub (emails, long digit runs) — narrow-transform
    ``regexp_replace`` chain, no shuffle; patterns restricted to syntax
    where Java regex and RE2 agree. Before/after char counts let the
    caller audit redaction volume without diffing payloads."""
    d = read_table(spark, sf_dir, "documents")
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), email, "<EMAIL>"), r"[0-9]{4,}", "<NUM>"
    )
    return d.select(
        "doc_id",
        redacted.alias("redacted"),
        F.length("text").cast("long").alias("n_chars_before"),
        F.length(redacted).cast("long").alias("n_chars_after"),
    )


# ---------------------------------------------------------------------------
# End-to-end curation: the composed pipeline a pretraining corpus runs
# ---------------------------------------------------------------------------
@register(
    "curation_end_to_end",
    f"""
    WITH tok AS (
      SELECT doc_id, source, text, len({_TOKS}) AS n_tokens FROM documents
    ), screened AS (
      SELECT * FROM tok WHERE n_tokens BETWEEN 50 AND 1000
    ), deduped AS (
      SELECT doc_id, source, text, n_tokens FROM (
        SELECT *, row_number() OVER (PARTITION BY md5(text)
                                     ORDER BY doc_id) AS rn
        FROM screened
      ) WHERE rn = 1
    ), mixed AS (
      SELECT * FROM deduped
      WHERE {knuth_mod_sql('doc_id', 100)} <
        CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 80
             WHEN source IN ('src5','src6','src7','src8','src9') THEN 50
             ELSE 20 END
    ), packed AS (
      SELECT doc_id, source, n_tokens,
             sum(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM mixed
    )
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(floor((cum - n_tokens) / {_PACK_BUDGET}) AS BIGINT) AS bin_id
    FROM packed
    """,
)
def curation_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline: token-length quality screen →
    exact dedup (survivor = min doc_id per content hash) → weighted
    source-mixture sampling → sequence packing into 512-token bins. Every
    stage is one of this module's / the dedup module's operators; the
    whole chain stays in two shuffles: the dedup window (keyed by the
    16-byte content digest) and the packing source partition — the screen
    and mixture stages are narrow filters, and there is no join anywhere
    (the keeper-set-plus-semi-join alternative shuffles twice and its
    keeper set is corpus-sized, so it could never broadcast at scale)."""
    from datamodel_clinicaldata_spark.operators.dedup import dedup_keep_first

    d = read_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "source", "text", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    screened = tok.filter(F.col("n_tokens").between(50, 1000))
    deduped = dedup_keep_first(screened)
    tier = (
        F.when(F.col("source").isin([f"src{i}" for i in range(5)]), 80)
        .when(F.col("source").isin([f"src{i}" for i in range(5, 10)]), 50)
        .otherwise(20)
    )
    mixed = deduped.filter(knuth_mod("doc_id", 100) < tier)
    return quota_chunk_bins(mixed.select("doc_id", "source", "n_tokens"), budget=_PACK_BUDGET)


@register(
    "pack_length_buckets",
    """
    WITH d AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
      FROM documents
    ), b AS (
      SELECT doc_id, n_tokens,
             CAST(CASE WHEN n_tokens < 64 THEN 0 WHEN n_tokens < 128 THEN 1
                       WHEN n_tokens < 256 THEN 2 WHEN n_tokens < 512 THEN 3
                       ELSE 4 END AS BIGINT) AS bucket_id,
             CAST(doc_id % 8 AS BIGINT) AS shard
      FROM d
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY bucket_id, shard
                                   ORDER BY n_tokens, doc_id) AS rn,
             CASE bucket_id WHEN 0 THEN 64 WHEN 1 THEN 32 WHEN 2 THEN 16
                            WHEN 3 THEN 8 ELSE 4 END AS bsize
      FROM b
    )
    SELECT bucket_id, shard, CAST((rn - 1) // bsize AS BIGINT) AS batch_idx,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(max(n_tokens) AS BIGINT) AS max_tokens,
           CAST(max(n_tokens) * count(*) AS BIGINT) AS padded_tokens,
           floor((max(n_tokens) * count(*) - sum(n_tokens))
                 / (max(n_tokens) * count(*)) * 1e6 + 0.5) / 1e6 AS padding_waste
    FROM r GROUP BY 1, 2, 3
    """,
)
def pack_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed dynamic batching: similar-length documents batch
    together (batch size scaled so padded tokens per batch stay near the
    4096 budget), reporting per-batch padding waste — the quantity this
    strategy exists to minimize. Sharded within buckets so batch
    formation parallelizes (see ``operators.packing.length_bucket_batches``)."""
    from datamodel_clinicaldata_spark.functions.vectors import round_fixed
    from datamodel_clinicaldata_spark.operators.packing import length_bucket_batches

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
    )
    out = length_bucket_batches(d)
    return out.withColumn(
        "padding_waste",
        round_fixed(
            (F.col("padded_tokens") - F.col("sum_tokens")) / F.col("padded_tokens")
        ),
    )


@register(
    "mixture_temperature_schedule",
    """
    WITH d AS (
      SELECT source,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
      FROM documents
    ), src AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS src_tokens,
             CAST(floor(sqrt(CAST(sum(n_tokens) AS DOUBLE)) * 1e6) AS BIGINT)
               AS sqrt_e6
      FROM d GROUP BY source
    ), tot AS (
      SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens,
             CAST(sum(sqrt_e6) AS BIGINT) AS total_sqrt_e6
      FROM src
    )
    SELECT source, n_docs, src_tokens,
           floor(src_tokens / total_tokens * 1e6 + 0.5) / 1e6 AS share,
           floor(sqrt_e6 / total_sqrt_e6 * 1e6 + 0.5) / 1e6 AS p_target,
           floor((sqrt_e6 / total_sqrt_e6) * total_tokens / src_tokens * 1e6 + 0.5)
             / 1e6 AS repeat_factor
    FROM src CROSS JOIN tot
    """,
)
def mixture_temperature_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (the multilingual-training recipe,
    e.g. XLM-R: sample source i with p_i ∝ share_i^α): α = 0.5 so the
    weight is sqrt (bit-identical IEEE in both engines, unlike pow), and
    the cross-source sum runs over FIXED-POINT ⌊√tokens·1e6⌋ integers so
    it is exact and order-independent — a raw float sum would make the
    denominator depend on partial-aggregation order and break the value
    hash. Output: observed share, target probability, and the repeat
    (epoch) factor p_i·N/n_i each source needs to hit the target.
    Plan: one narrow agg to ≤ |sources| rows, broadcast scalar totals."""
    d = read_table(spark, sf_dir, "documents").select(
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tokens"),
    )
    src = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("src_tokens"),
    ).withColumn(
        "sqrt_e6",
        F.floor(F.sqrt(F.col("src_tokens").cast("double")) * 1e6).cast("long"),
    )
    tot = src.agg(
        F.sum("src_tokens").cast("long").alias("total_tokens"),
        F.sum("sqrt_e6").cast("long").alias("total_sqrt_e6"),
    )
    from datamodel_clinicaldata_spark.functions.vectors import round_fixed

    j = src.crossJoin(F.broadcast(tot))
    return j.select(
        "source",
        "n_docs",
        "src_tokens",
        round_fixed(F.col("src_tokens") / F.col("total_tokens")).alias("share"),
        round_fixed(F.col("sqrt_e6") / F.col("total_sqrt_e6")).alias("p_target"),
        round_fixed(
            (F.col("sqrt_e6") / F.col("total_sqrt_e6"))
            * F.col("total_tokens")
            / F.col("src_tokens"),
        ).alias("repeat_factor"),
    )


@register(
    "split_leakage_safe",
    f"""
    WITH d AS (
      SELECT doc_id, md5(text) AS dig,
             {knuth_mod_sql("CAST('0x' || substr(md5(text), 1, 15) AS BIGINT)", 10)}
               AS bucket
      FROM documents
    ), s AS (
      SELECT doc_id, dig,
             CASE WHEN bucket < 8 THEN 'train'
                  WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split
      FROM d
    ), leaks AS (
      SELECT dig, CAST(count(DISTINCT split) AS BIGINT) AS n_splits
      FROM s GROUP BY dig
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT s.dig) AS BIGINT) AS n_contents,
           CAST(sum(CASE WHEN leaks.n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS leaked_docs
    FROM s JOIN leaks ON leaks.dig = s.dig
    GROUP BY split
    """,
)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split (80/10/10): the split key is the
    deterministic Knuth hash of the CONTENT DIGEST, not the doc id — so
    exact duplicates land in the same split by construction and
    train→test contamination from dup families is structurally
    impossible at the exact-dup level (``leaked_docs`` is the audited
    evidence, 0 in every split; an id-keyed split leaks every dup pair
    that straddles the boundary). Pure narrow computation — the only
    shuffles are the audit aggregations."""
    d = read_table(spark, sf_dir, "documents")
    key = F.conv(F.substring(F.md5(F.col("text")), 1, 15), 16, 10).cast("long")
    bucket = knuth_mod(key, 10)
    s = d.select(
        "doc_id",
        F.md5(F.col("text")).alias("dig"),
        F.when(bucket < 8, F.lit("train"))
        .when(bucket == 8, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    leaks = s.groupBy("dig").agg(
        F.count_distinct("split").cast("long").alias("n_splits")
    )
    return (
        s.join(leaks, "dig")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count_distinct("dig").cast("long").alias("n_contents"),
            F.sum((F.col("n_splits") > 1).cast("long")).alias("leaked_docs"),
        )
    )


@register(
    "sample_weighted_reservoir",
    f"""
    WITH d AS (
      SELECT doc_id, source,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS w
      FROM documents
    ), pri AS (
      SELECT doc_id, source, w,
             ({knuth_mod_sql('doc_id', 1048576)} + 1) / 1048578.0 AS u
      FROM d
    ), ranked AS (
      SELECT doc_id, source, w,
             floor(ln(u) / w * 1000000.0 + 0.5) / 1000000.0 AS priority
      FROM pri
    )
    SELECT doc_id, source, w, priority, rank FROM (
      SELECT *, CAST(row_number() OVER (ORDER BY priority DESC, doc_id ASC)
                     AS BIGINT) AS rank
      FROM ranked
    ) WHERE rank <= 50
    """,
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement at scale — the
    Efraimidis-Spirakis (2006) priority trick: give each item priority
    u^(1/w) for uniform u and keep the global top-k; here the
    order-equivalent ln(u)/w is ranked instead (one ln, no pow — pow is
    not engine-stable) and u is the deterministic Knuth-hash uniform, so
    the "random" sample is reproducible and oracle-replayable. Weight =
    token count (longer docs proportionally likelier). The top-k is
    ``ranking.topk_ranked`` — distributed TakeOrdered (per-task k-row
    heaps, advice r5), never a corpus-wide single-partition rank; the
    priority computation itself is embarrassingly parallel with no
    shuffle."""
    from datamodel_clinicaldata_spark.functions.vectors import round_fixed
    from datamodel_clinicaldata_spark.operators.ranking import topk_ranked

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("w"),
    )
    u = (knuth_mod("doc_id", 1_048_576) + 1).cast("double") / 1_048_578.0
    ranked = d.select(
        "doc_id",
        "source",
        "w",
        round_fixed(F.log(u) / F.col("w")).alias("priority"),
    )
    return topk_ranked(
        ranked, [F.col("priority").desc(), F.col("doc_id").asc()], 50
    )


@register(
    "sample_per_source_reservoir",
    f"""
    WITH d AS (
      SELECT doc_id, source,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS w
      FROM documents
    ), pri AS (
      SELECT doc_id, source, w,
             ({knuth_mod_sql('doc_id', 1048576)} + 1) / 1048578.0 AS u
      FROM d
    ), ranked AS (
      SELECT doc_id, source, w,
             floor(ln(u) / w * 1000000.0 + 0.5) / 1000000.0 AS priority
      FROM pri
    )
    SELECT doc_id, source, w, priority, rank FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY source
                     ORDER BY priority DESC, doc_id ASC) AS BIGINT) AS rank
      FROM ranked
    ) WHERE rank <= 10
    """,
)
def sample_per_source_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-STRATUM weighted reservoir: the Efraimidis-Spirakis priority
    sample taken independently inside every source — how a mixture
    pipeline draws k docs from EACH corpus slice (balanced inspection
    sets, per-domain eval shards) rather than k overall. Identical
    deterministic priority construction to ``sample_weighted_reservoir``;
    the rank window is PARTITIONED by source, which is already the
    scale-native shape (each stratum ranks inside its own hash
    partition — no global ordering anywhere, no TakeOrdered needed), so
    this and the global variant together pin both top-k disciplines."""
    from datamodel_clinicaldata_spark.functions.vectors import round_fixed

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("w"),
    )
    u = (knuth_mod("doc_id", 1_048_576) + 1).cast("double") / 1_048_578.0
    ranked = d.select(
        "doc_id",
        "source",
        "w",
        round_fixed(F.log(u) / F.col("w")).alias("priority"),
    )
    win = Window.partitionBy("source").orderBy(
        F.col("priority").desc(), F.col("doc_id").asc()
    )
    return ranked.withColumn(
        "rank", F.row_number().over(win).cast("long")
    ).filter(F.col("rank") <= 10)


@register(
    "sample_quality_nucleus",
    """
    WITH scored AS (
      SELECT doc_id, source,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
               AS n_tokens
      FROM documents
    ), ranked AS (
      SELECT doc_id, source, n_tokens,
             CAST(sum(n_tokens) OVER (
               PARTITION BY source
               ORDER BY n_tokens DESC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY source) AS BIGINT)
               AS total_tokens
      FROM scored
    )
    SELECT doc_id, source, n_tokens, cum_tokens
    FROM ranked
    WHERE (cum_tokens - n_tokens) * 5 < total_tokens * 4
    """,
)
def sample_quality_nucleus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nucleus (top-p) corpus curation: per source, keep the smallest
    prefix of documents — longest first — whose cumulative token mass
    reaches 80% of the source's total (the data-mixing analog of
    nucleus sampling: cap each source at its head, cut the low-mass
    tail). Boundary by reduced-fraction integer cross-multiply (repo
    pareto doctrine): a row is kept iff the mass BEFORE it is strictly
    under 4/5 of the total — ``(cum − n)·5 < total·4`` in BIGINT, no
    float share ever computed — so the crossing row itself is kept and
    the cut is reproducible across engines. Plan: one scan, one
    shuffle on source, two frames over the SAME partition+sort (the
    running sum and the partition total share one window exchange);
    partition-native — no global ordering anywhere."""
    d = read_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        .cast("long")
        .alias("n_tokens"),
    )
    order = [F.col("n_tokens").desc(), F.col("doc_id").asc()]
    run = Window.partitionBy("source").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy("source")
    ranked = scored.select(
        "doc_id",
        "source",
        "n_tokens",
        F.sum("n_tokens").over(run).cast("long").alias("cum_tokens"),
        F.sum("n_tokens").over(tot).cast("long").alias("total_tokens"),
    )
    return ranked.filter(
        (F.col("cum_tokens") - F.col("n_tokens")) * 5
        < F.col("total_tokens") * 4
    ).select("doc_id", "source", "n_tokens", "cum_tokens")


@register(
    "sample_systematic",
    """
    WITH r AS (
      SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
                  AS BIGINT) AS rn
      FROM documents
    )
    SELECT doc_id, source, rn FROM r WHERE (rn - 1) % 5 = 0
    """,
)
def sample_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic (every-k-th) sampling per source: rank documents inside
    each source by id and keep every 5th — the inspection-set /
    eval-shard draw that guarantees EXACTLY ⌈n/5⌉ rows per stratum with
    uniform coverage of the id range, where Bernoulli sampling only
    hits the rate in expectation. Fully deterministic (id order, no
    hash, no RNG) and replayable by any engine.

    Scale shape: one rank window PARTITIONED by source (each stratum
    ranks inside its own hash partition — the per-stratum ordering
    doctrine of ``sample_per_source_reservoir``), one modulus filter;
    no global ordering, no second pass."""
    d = read_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        d.select(
            "doc_id",
            "source",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter((F.col("rn") - 1) % 5 == 0)
    )


@register(
    "sample_perplexity_buckets",
    f"""
    WITH toks AS (
      SELECT doc_id, source, unnest({_TOKS}) AS tok FROM documents
    ), freq AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS total FROM freq
    ), scored AS (
      SELECT toks.doc_id, toks.source,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(CAST(floor(-ln(CAST(freq.c AS DOUBLE) / tot.total)
                                 * 1000000000 + 0.5) AS BIGINT))
                  // count(*) AS BIGINT) AS avg_e9
      FROM toks JOIN freq USING (tok) CROSS JOIN tot
      GROUP BY 1, 2
    ), b AS (
      SELECT source, n_tokens, avg_e9,
             ntile(3) OVER (PARTITION BY source
                            ORDER BY avg_e9, doc_id) AS tile
      FROM scored
    )
    SELECT source,
           CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                     ELSE 'tail' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(min(avg_e9) AS BIGINT) AS min_avg_e9,
           CAST(max(avg_e9) AS BIGINT) AS max_avg_e9
    FROM b GROUP BY 1, 2
    """,
)
def sample_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail split (Wenzek et al. 2020): score
    every document under the corpus unigram LM, then cut each source
    into perplexity TERTILES — head = most-fluent third, tail = the
    third that perplexity filtering would drop, bucketed PER SOURCE so
    one clean source cannot crowd a noisy one out of the kept set.
    Engine-exact ordering: each token's −ln p quantizes to an e9 BIGINT
    before the per-doc sum (order-insensitive integer addition — the
    ``text_bigram_logprob`` doctrine), the per-doc mean is an integral
    ``div``, and the tertile assignment is ntile over the total order
    (avg_e9, doc_id) — deterministic on both engines.

    Scale shape: explode → one broadcast-joinable unigram dim → per-doc
    agg; the ntile window is PARTITIONED by source over the doc-level
    frame; the final rollup is |sources|×3 rows. No global ordering —
    each stratum ranks inside its own partition."""
    d = read_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", F.explode(tokens(F.col("text"))).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = freq.agg(F.sum("c").cast("long").alias("total"))
    scored = (
        toks.join(F.broadcast(freq), "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.expr(
                "CAST(sum(CAST(floor(-ln(CAST(c AS DOUBLE) / total)"
                " * 1000000000 + 0.5) AS BIGINT)) div count(*) AS BIGINT)"
            ).alias("avg_e9"),
        )
    )
    wt = Window.partitionBy("source").orderBy("avg_e9", "doc_id")
    b = scored.select(
        "source", "n_tokens", "avg_e9", F.ntile(3).over(wt).alias("tile")
    )
    return b.groupBy(
        "source",
        F.when(F.col("tile") == 1, "head")
        .when(F.col("tile") == 2, "middle")
        .otherwise("tail")
        .alias("bucket"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.min("avg_e9").cast("long").alias("min_avg_e9"),
        F.max("avg_e9").cast("long").alias("max_avg_e9"),
    )


@register(
    "sample_stratified_kfold",
    f"""
    WITH a AS (
      SELECT source,
             CAST({knuth_mod_sql('doc_id', 5)} AS BIGINT) AS fold,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    g AS (
      SELECT source, fold,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS n_tokens
      FROM a GROUP BY 1, 2
    ),
    b AS (
      SELECT source,
             CAST(max(n_docs) - min(n_docs) AS BIGINT) AS fold_spread
      FROM g GROUP BY 1
    )
    SELECT g.source, g.fold, g.n_docs, g.n_tokens, b.fold_spread
    FROM g JOIN b USING (source)
    """,
)
def sample_stratified_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified 5-fold cross-validation assignment: every document
    lands in fold ``knuth(doc_id) mod 5`` — deterministic, engine-
    replayable, and independent of row order or partitioning, so the
    SAME folds reproduce on any engine reading the same table (the
    property ``rand()``-based splitters lose on every retry). Output is
    the per-(source, fold) census plus each source's fold-size spread —
    the balance audit that tells you whether hash stratification is
    good enough or a round-robin-within-stratum pass is warranted.

    Scale shape: fold assignment is a per-row expression (no shuffle);
    the census is one map-side-combined (source, fold) aggregate; the
    spread folds on the |sources|×5 frame and joins back by source."""
    d = read_table(spark, sf_dir, "documents")
    a = d.select(
        "source",
        knuth_mod("doc_id", 5).cast("long").alias("fold"),
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        .cast("long")
        .alias("n_tokens"),
    )
    g = a.groupBy("source", "fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )
    b = g.groupBy("source").agg(
        (F.max("n_docs") - F.min("n_docs")).cast("long").alias("fold_spread")
    )
    return g.join(F.broadcast(b), "source").select(
        "source", "fold", "n_docs", "n_tokens", "fold_spread"
    )
