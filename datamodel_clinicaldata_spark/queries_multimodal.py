"""Multimodal-column queries + DuckDB oracles.

The media table is derived deterministically from ``documents`` (ASCII
text re-encoded as the binary payload — verified byte == char code), so
every byte-level feature has an exact SQL twin over the text column:
the mapInPandas plumbing (schema, Arrow batching, explode cardinality)
is what's actually under test, with values checked to integer exactness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datamodel_clinicaldata_spark.operators.multimodal import (
    audio_rms_windows,
    byte_histogram,
    frame_sample,
    media_from_documents,
)
from datamodel_clinicaldata_spark.registry import register
from datamodel_clinicaldata_spark.sources.readers import read_table


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    return media_from_documents(read_table(spark, sf_dir, "documents"))


@register(
    "multimodal_ingest",
    """
    SELECT doc_id AS media_id,
           'image' AS kind,
           length(text) AS n_bytes,
           md5(text) AS content_md5,
           length(text) % 640 AS meta_width,
           length(text) % 480 AS meta_height,
           length(text) * 10 AS meta_duration_ms
    FROM documents
    """,
)
def multimodal_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary + typed-metadata ingest: blob length, digest, meta fields."""
    m = _media(spark, sf_dir)
    return m.select(
        "media_id",
        "kind",
        F.length("content").cast("long").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
        F.col("media_meta.width").cast("long").alias("meta_width"),
        F.col("media_meta.height").cast("long").alias("meta_height"),
        F.col("media_meta.duration_ms").cast("long").alias("meta_duration_ms"),
    )


@register(
    "multimodal_byte_histogram",
    """
    WITH bytes AS (
      SELECT doc_id, unnest(range(1, length(text) + 1)) AS i, text
      FROM documents
    )
    SELECT doc_id AS media_id,
           ord(substr(text, CAST(i AS INTEGER), 1)) // 4 AS bin,
           count(*) AS n
    FROM bytes
    GROUP BY 1, 2
    """,
)
def multimodal_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bin byte histogram per media blob (image-feature stand-in)."""
    return byte_histogram(_media(spark, sf_dir))


@register(
    "multimodal_frame_sample",
    """
    SELECT doc_id AS media_id,
           i AS frame_idx,
           md5(substr(text, CAST(i * 128 + 1 AS INTEGER), 64)) AS frame_md5,
           length(substr(text, CAST(i * 128 + 1 AS INTEGER), 64)) AS frame_len
    FROM documents CROSS JOIN (SELECT unnest(range(0, 8)) AS i)
    WHERE i * 128 < length(text)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling: 64-byte frame every 128 bytes, ≤8."""
    return frame_sample(_media(spark, sf_dir))


@register(
    "multimodal_audio_rms",
    """
    WITH samples AS (
      SELECT doc_id,
             unnest(range(1, length(text) + 1)) AS i,
             text
      FROM documents
    )
    SELECT doc_id AS media_id,
           (i - 1) // 256 AS window_idx,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(ord(substr(text, CAST(i AS INTEGER), 1))
                    * ord(substr(text, CAST(i AS INTEGER), 1))) AS BIGINT) AS sum_sq
    FROM samples
    GROUP BY 1, 2
    """,
)
def multimodal_audio_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-style windowed energy: 256-sample windows, exact integer
    sum-of-squares (RMS = sqrt(sum_sq/n) derivable)."""
    return audio_rms_windows(_media(spark, sf_dir))


@register(
    "multimodal_resize",
    """
    WITH g AS (
      SELECT doc_id, text, length(text) AS n,
             CAST(ceil(length(text) / 32.0) AS BIGINT) AS h
      FROM documents
    )
    SELECT doc_id AS media_id,
           CAST(8 AS BIGINT) AS out_w,
           CAST(8 AS BIGINT) AS out_h,
           md5(array_to_string(list_transform(range(0, 64), k ->
             substr(text,
                    CAST(least(((k // 8) * h) // 8 * 32 + ((k % 8) * 32) // 8,
                               n - 1) AS INTEGER) + 1,
                    1)), '')) AS resized_md5,
           CAST(64 AS BIGINT) AS resized_len
    FROM g
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbour byte-grid resize to 8×8 (Arrow-batched
    mapInPandas; the oracle replays the same gather over the ASCII text
    payload)."""
    from datamodel_clinicaldata_spark.operators.multimodal import resize_nearest

    return resize_nearest(_media(spark, sf_dir))


@register(
    "multimodal_vad_segments",
    """
    WITH samples AS (
      SELECT doc_id, unnest(range(1, length(text) + 1)) AS i, text
      FROM documents
    ),
    w AS (
      SELECT doc_id AS media_id,
             (i - 1) // 256 AS window_idx,
             CAST(count(*) AS BIGINT) AS n_samples,
             CAST(sum(ord(substr(text, CAST(i AS INTEGER), 1))
                      * ord(substr(text, CAST(i AS INTEGER), 1)))
                  AS BIGINT) AS sum_sq
      FROM samples GROUP BY 1, 2
    ),
    act AS (
      SELECT media_id, window_idx,
             window_idx - row_number() OVER (PARTITION BY media_id
                                             ORDER BY window_idx) AS grp
      FROM w WHERE sum_sq >= 10000 * n_samples
    ),
    seg AS (
      SELECT media_id, CAST(count(*) AS BIGINT) AS seg_len
      FROM act GROUP BY media_id, grp
    ),
    segstats AS (
      SELECT media_id,
             CAST(count(*) AS BIGINT) AS n_segments,
             CAST(max(seg_len) AS BIGINT) AS longest_segment
      FROM seg GROUP BY media_id
    ),
    tot AS (
      SELECT media_id,
             CAST(count(*) AS BIGINT) AS n_windows,
             CAST(sum(CASE WHEN sum_sq >= 10000 * n_samples
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_active
      FROM w GROUP BY media_id
    )
    SELECT tot.media_id, tot.n_windows, tot.n_active,
           coalesce(segstats.n_segments, 0) AS n_segments,
           coalesce(segstats.longest_segment, 0) AS longest_segment
    FROM tot LEFT JOIN segstats USING (media_id)
    """,
)
def multimodal_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity-style segmentation over the windowed audio energy
    frame: windows whose mean square clears the energy gate (sum_sq ≥
    10000·n, an integer cross-multiply — the 10⁴ threshold bisects this
    corpus's 7.4k–14.6k mean-square range at ~15% active) group into
    maximal CONSECUTIVE runs via the gaps-and-islands identity
    (window_idx − row_number per media), yielding the per-media segment
    profile (count, longest) that drives clip extraction and
    silence-trimming in audio pipelines. Same deterministic byte-fake
    media source as the rest of the multimodal family
    (``multimodal_audio_rms`` reference: SwethaSrikari repo has no
    media path; this is the extension surface).

    Scale shape: the sample explode is the multimodal family's standard
    linear pass; everything after runs on the windows frame (|media| ×
    ≤|windows per media| rows, 256× smaller); islands windows are
    media-partitioned. Medias with zero active windows stay present
    via the left join + coalesce(0)."""
    from datamodel_clinicaldata_spark.operators.multimodal import (
        audio_rms_windows,
    )

    w = audio_rms_windows(_media(spark, sf_dir))
    active = w.filter(F.col("sum_sq") >= 10000 * F.col("n_samples"))
    iw = Window.partitionBy("media_id").orderBy("window_idx")
    act = active.withColumn(
        "grp", F.col("window_idx") - F.row_number().over(iw)
    )
    seg = act.groupBy("media_id", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("seg_len")
    )
    segstats = seg.groupBy("media_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.max("seg_len").cast("long").alias("longest_segment"),
    )
    tot = w.groupBy("media_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        F.sum(
            (F.col("sum_sq") >= 10000 * F.col("n_samples")).cast("long")
        )
        .cast("long")
        .alias("n_active"),
    )
    return tot.join(segstats, "media_id", "left").select(
        "media_id",
        "n_windows",
        "n_active",
        F.coalesce(F.col("n_segments"), F.lit(0)).cast("long").alias(
            "n_segments"
        ),
        F.coalesce(F.col("longest_segment"), F.lit(0))
        .cast("long")
        .alias("longest_segment"),
    )


@register(
    "multimodal_decode_bmp",
    """
    WITH dims AS (
      SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
      FROM documents WHERE doc_id % 97 <> 0
    ),
    px AS (
      SELECT doc_id, w, h,
             (3 * doc_id + 7 * x + y) % 256 AS r,
             (2 * doc_id + 5 * x + 3 * y) % 256 AS g,
             (doc_id + 37 * x + 11 * y) % 256 AS b
      FROM dims, unnest(range(0, w)) AS tx(x), unnest(range(0, h)) AS ty(y)
    ),
    clean AS (
      SELECT doc_id AS media_id,
             CAST(any_value(w) AS BIGINT) AS width,
             CAST(any_value(h) AS BIGINT) AS height,
             CAST(3 AS BIGINT) AS channels,
             CAST(any_value(w) * any_value(h) AS BIGINT) AS n_px,
             CAST(sum(r) AS BIGINT) AS sum_r,
             CAST(sum(g) AS BIGINT) AS sum_g,
             CAST(sum(b) AS BIGINT) AS sum_b,
             FALSE AS is_dirty
      FROM px GROUP BY doc_id
    )
    SELECT * FROM clean
    UNION ALL
    SELECT doc_id AS media_id,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), TRUE AS is_dirty
    FROM documents WHERE doc_id % 97 = 0
    """,
)
def multimodal_decode_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode under the oracle gate: synthesize one BMP per
    document from the closed-form test pattern (``synth_bmp_from_ids``),
    run it through the actual pure-numpy BMP parser
    (``decode_image_bmp`` — header walk, BGR order, 4-byte row padding,
    bottom-up rows), and emit the decoded dimensions + EXACT per-channel
    pixel sums. The DuckDB twin never touches a pixel: it recomputes the
    expected statistics from the generation formula, so any decode bug
    (padding off-by-one, channel swap, row-order flip) breaks the value
    hash. Ids ≡ 0 (mod 97) carry truncated blobs and must surface as
    tagged dirty rows — the never-fail-a-batch contract, driver-checked.

    Scale shape: ONE Arrow-batched ``mapInPandas`` hop over the pruned
    id column (r13, guide §4 — see ``multimodal_decode_png``): synth and
    decode run back-to-back via ``synth_decode_bmp_stats``, so blob
    bytes never cross the JVM↔Python boundary; output pinned
    byte-identical to the two-hop composition in
    tests/test_multimodal.py. Embarrassingly parallel; no shuffle."""
    from datamodel_clinicaldata_spark.operators.multimodal import (
        synth_decode_bmp_stats,
    )
    from datamodel_clinicaldata_spark.operators.partitioning import (
        ensure_min_parallelism,
    )

    d = ensure_min_parallelism(
        read_table(spark, sf_dir, "documents").select("doc_id")
    )
    dec = synth_decode_bmp_stats(d)
    return dec.select(
        "media_id",
        "width",
        "height",
        "channels",
        "n_px",
        "sum_r",
        "sum_g",
        "sum_b",
        F.col("decode_error").isNotNull().alias("is_dirty"),
    )


@register(
    "multimodal_decode_wav",
    """
    WITH dims AS (
      SELECT doc_id, 50 + doc_id % 32 AS n
      FROM documents WHERE doc_id % 89 <> 0
    ),
    s AS (
      SELECT doc_id, n, ((doc_id * 31 + i * 17) % 4001) - 2000 AS v
      FROM dims, unnest(range(0, n)) AS t(i)
    ),
    clean AS (
      SELECT doc_id AS media_id,
             CAST(8000 AS BIGINT) AS sample_rate,
             CAST(1 AS BIGINT) AS n_channels,
             CAST(16 AS BIGINT) AS bits_per_sample,
             CAST(any_value(n) AS BIGINT) AS n_frames,
             CAST(any_value(n) * 1000 // 8000 AS BIGINT) AS duration_ms,
             CAST(sum(v * v) AS BIGINT) AS sum_sq,
             CAST(max(abs(v)) AS BIGINT) AS peak_abs,
             FALSE AS is_dirty
      FROM s GROUP BY doc_id
    )
    SELECT * FROM clean
    UNION ALL
    SELECT doc_id AS media_id,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), TRUE AS is_dirty
    FROM documents WHERE doc_id % 89 = 0
    """,
)
def multimodal_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode under the oracle gate (audio twin of
    ``multimodal_decode_bmp``): synthesize one closed-form 16-bit PCM
    WAV per document (``synth_wav_from_ids``), decode it with the
    actual RIFF/PCM parser (``decode_audio_wav`` — chunk walk, frame
    decode, exact integer sum-of-squares), and emit the decoded header
    fields + energy/peak. The DuckDB twin recomputes every statistic
    from the sample formula without parsing a byte, so a chunk-offset
    or endianness bug breaks the value hash. Ids ≡ 0 (mod 89) carry
    truncated blobs → tagged dirty rows (never-fail-a-batch contract).
    sum_sq re-casts to BIGINT here: 16-bit samples bound it far below
    int64 (the decoder's decimal(38,0) headroom matters for 32-bit PCM,
    pinned by tests/test_multimodal.py).

    Scale shape: two chained Arrow-batched ``mapInPandas`` hops on
    pruned columns, embarrassingly parallel, no shuffle."""
    from datamodel_clinicaldata_spark.operators.multimodal import (
        decode_audio_wav,
        synth_wav_from_ids,
    )
    from datamodel_clinicaldata_spark.operators.partitioning import (
        ensure_min_parallelism,
    )

    d = ensure_min_parallelism(
        read_table(spark, sf_dir, "documents").select("doc_id")
    )
    dec = decode_audio_wav(synth_wav_from_ids(d))
    return dec.select(
        "media_id",
        "sample_rate",
        "n_channels",
        "bits_per_sample",
        "n_frames",
        "duration_ms",
        F.col("sum_sq").cast("long").alias("sum_sq"),
        "peak_abs",
        F.col("decode_error").isNotNull().alias("is_dirty"),
    )


@register(
    "multimodal_decode_png",
    """
    WITH dims AS (
      SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
      FROM documents WHERE doc_id % 101 <> 0
    ),
    px AS (
      SELECT doc_id, w, h,
             (3 * doc_id + 7 * x + y) % 256 AS r,
             (2 * doc_id + 5 * x + 3 * y) % 256 AS g,
             (doc_id + 37 * x + 11 * y) % 256 AS b
      FROM dims, unnest(range(0, w)) AS tx(x), unnest(range(0, h)) AS ty(y)
    ),
    clean AS (
      SELECT doc_id AS media_id,
             CAST(any_value(w) AS BIGINT) AS width,
             CAST(any_value(h) AS BIGINT) AS height,
             CAST(3 AS BIGINT) AS channels,
             CAST(any_value(w) * any_value(h) AS BIGINT) AS n_px,
             CAST(sum(r) AS BIGINT) AS sum_r,
             CAST(sum(g) AS BIGINT) AS sum_g,
             CAST(sum(b) AS BIGINT) AS sum_b,
             FALSE AS is_dirty
      FROM px GROUP BY doc_id
    )
    SELECT * FROM clean
    UNION ALL
    SELECT doc_id AS media_id,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), TRUE AS is_dirty
    FROM documents WHERE doc_id % 101 = 0
    """,
)
def multimodal_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-image decode under the oracle gate: synthesize
    one PNG per document whose scanlines cycle through ALL FIVE filter
    types ((id+y) % 5), inflate + unfilter it with the actual pure-
    Python decoder (``decode_image_png`` — chunk walk, stdlib zlib,
    Sub/Up/Average/Paeth reconstruction), and emit decoded dimensions +
    exact channel sums; the pixel field is the same closed form as the
    BMP twin, so the DuckDB oracle recomputes everything without
    touching zlib. This is the round-8 PNG decoder moved from
    pytest-only evidence into the driver's value-hash gate. Ids ≡ 0
    (mod 101) carry truncated blobs → tagged dirty rows.

    Scale shape: ONE Arrow-batched ``mapInPandas`` hop on the pruned id
    column (r13, guide §4): synth and decode run back-to-back in the
    same Python task via ``synth_decode_png_stats``, so the PNG bytes
    never cross the JVM↔Python boundary — the previous two-hop
    composition shipped every blob across it twice (measured A/B at
    sf0.1: ~1.5 s → ~1.1 s; byte-identical output, pinned against the
    two-hop form in tests/test_multimodal.py). Embarrassingly parallel,
    no shuffle."""
    from datamodel_clinicaldata_spark.operators.multimodal import (
        synth_decode_png_stats,
    )
    from datamodel_clinicaldata_spark.operators.partitioning import (
        ensure_min_parallelism,
    )

    d = ensure_min_parallelism(
        read_table(spark, sf_dir, "documents").select("doc_id")
    )
    dec = synth_decode_png_stats(d)
    return dec.select(
        "media_id",
        "width",
        "height",
        "channels",
        "n_px",
        "sum_r",
        "sum_g",
        "sum_b",
        F.col("decode_error").isNotNull().alias("is_dirty"),
    )
