"""Multimodal columns — image/audio/video as opaque ``binary`` + typed
metadata, processed with Arrow-batched ``mapInPandas`` (the sanctioned
Python path: one Arrow batch per hop, never per-row pickling).

Design (the 100 TB shape):
- Media rides as ``content: binary`` next to a ``media_meta`` struct
  (width/height/channels/sample_rate/duration_ms/format). Parquet stores
  the blobs inline; at scale the table is partitioned by ``kind`` and
  date so decode jobs prune to the modality they need, and
  ``spark.sql.files.maxPartitionBytes`` keeps one task's blobs in memory.
- Feature extraction = ``mapInPandas`` over the pruned projection
  (media_id + content only — column pruning matters more than usual when
  one column is megabytes wide).
- Container decode is REAL where stdlib suffices: ``decode_audio_wav``
  parses RIFF/WAV headers + PCM frames (8/16/32-bit),
  ``decode_image_bmp`` parses BMP headers + BI_RGB pixel rows
  (8/24/32-bpp, bottom-up and top-down), and ``decode_image_png``
  decodes PNG (chunk walk + stdlib zlib inflate + all five scanline
  filters + palette), all pure Python/numpy inside the same
  Arrow-batched ``mapInPandas``. Entropy-coded codecs with no stdlib
  decoder (JPEG/MP3/…) are not decoded.
  Every other operator computes real, deterministic byte-level features
  (histogram, RMS energy, frame slicing) so the full Spark plumbing —
  schema, batching, explode cardinality, partition parallelism — is
  genuinely exercised and oracle-checkable.
"""

from __future__ import annotations

import decimal
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

def media_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic media table derived from ``documents``: the text body
    as the binary payload plus a typed metadata struct. Stands in for a
    real (media_id, content, meta) table so every downstream operator runs
    against genuine binary columns."""
    n = F.length("text")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "UTF-8").alias("content"),
        F.struct(
            (n % 640).cast("int").alias("width"),
            (n % 480).cast("int").alias("height"),
            F.lit(3).alias("channels"),
            F.lit(16_000).alias("sample_rate"),
            (n * 10).cast("int").alias("duration_ms"),
            F.lit("raw").alias("format"),
        ).alias("media_meta"),
    )


def _parse_wav(b: bytes):
    """Pure-Python RIFF/WAV parse → (sample_rate, n_channels,
    bits_per_sample, int64 sample ndarray). Raises ValueError on a
    malformed container and NotImplementedError on non-PCM (compressed)
    audio — the one part that genuinely needs a codec library."""
    import struct

    import numpy as np

    if len(b) < 12 or b[0:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        (size,) = struct.unpack_from("<I", b, pos + 4)
        body = b[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:  # truncated blob: declared size > payload
                raise ValueError("truncated fmt chunk")
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, n_channels, sample_rate, _brate, _align, bits = fmt
    if audio_format != 1:  # 1 = PCM; anything else is a compressed codec
        raise NotImplementedError(f"non-PCM WAV (format tag {audio_format})")
    if bits == 8:  # 8-bit WAV is UNSIGNED, centered at 128
        samples = np.frombuffer(data, dtype=np.uint8).astype(np.int64) - 128
    elif bits == 16:
        samples = np.frombuffer(data, dtype="<i2").astype(np.int64)
    elif bits == 32:
        samples = np.frombuffer(data, dtype="<i4").astype(np.int64)
    else:
        raise ValueError(f"unsupported PCM bit depth {bits}")
    return sample_rate, n_channels, bits, samples


def decode_audio_wav(media: DataFrame) -> DataFrame:
    """REAL uncompressed-audio decode: RIFF/WAV header parse + PCM frame
    decode (8/16/32-bit, any channel count), pure Python/numpy inside the
    Arrow-batched ``mapInPandas`` — no codec library needed for the
    uncompressed container, so this path is NOT a stub. Output per media:
    (media_id, sample_rate, n_channels, bits_per_sample, n_frames,
    duration_ms, sum_sq, peak_abs) — energy as the exact integer sum of
    squares so any oracle comparison stays integer-exact. Malformed or
    compressed (non-PCM) payloads yield a NULL-feature row with an error
    tag rather than failing the batch: at 100 TB a decode job must survive
    dirty blobs."""
    import numpy as np

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("sample_rate", T.LongType()),
            T.StructField("n_channels", T.LongType()),
            T.StructField("bits_per_sample", T.LongType()),
            T.StructField("n_frames", T.LongType()),
            T.StructField("duration_ms", T.LongType()),
            # decimal(38,0), not long: the exact sum of 32-bit-PCM squares
            # (each up to 2^62) exceeds int64 after just two full-scale
            # samples; 10^38 headroom covers ~10^13 samples at full scale.
            T.StructField("sum_sq", T.DecimalType(38, 0)),
            T.StructField("peak_abs", T.LongType()),
            T.StructField("decode_error", T.StringType()),
        ]
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {f.name: [] for f in schema.fields}
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                rows["media_id"].append(mid)
                try:
                    rate, nch, bits, samples = _parse_wav(bytes(blob))
                    n_frames = len(samples) // max(nch, 1)
                    rows["sample_rate"].append(rate)
                    rows["n_channels"].append(nch)
                    rows["bits_per_sample"].append(bits)
                    rows["n_frames"].append(n_frames)
                    rows["duration_ms"].append(
                        (n_frames * 1000) // rate if rate else 0
                    )
                    # Exact integer sum of squares without int64-accumulator
                    # wrap (ADVICE r7): for 32-bit PCM each square reaches
                    # 2^62, so two near-full-scale samples overflow a naive
                    # int64 sum.  Each square individually fits int64
                    # (|s| <= 2^31 -> s*s <= 2^62); split it into 32-bit
                    # halves, sum the halves in uint64 (safe to 2^32
                    # terms), and recombine with Python ints — exact for
                    # every PCM width, still fully vectorized.
                    s64 = samples.astype(np.int64, copy=False)
                    sq = s64 * s64
                    ssum = (int((sq >> 32).sum(dtype=np.uint64)) << 32) + int(
                        (sq & 0xFFFFFFFF).sum(dtype=np.uint64)
                    )
                    rows["sum_sq"].append(decimal.Decimal(ssum))
                    rows["peak_abs"].append(
                        int(np.abs(s64).max()) if len(samples) else 0
                    )
                    rows["decode_error"].append(None)
                except (ValueError, NotImplementedError) as e:
                    for c in (
                        "sample_rate",
                        "n_channels",
                        "bits_per_sample",
                        "n_frames",
                        "duration_ms",
                        "sum_sq",
                        "peak_abs",
                    ):
                        rows[c].append(None)
                    rows["decode_error"].append(str(e))
            yield pd.DataFrame(rows)

    return media.select("media_id", "content").mapInPandas(decode, schema)


def _parse_bmp(b: bytes):
    """Pure-Python BMP parse → (width, height, channels, HxWxC uint8
    pixel ndarray, RGB channel order). Supports BI_RGB (uncompressed)
    8-bpp (palette → grayscale expanded via the palette), 24-bpp and
    32-bpp, bottom-up and top-down row order, 4-byte row padding.
    Raises ValueError on malformed input, NotImplementedError on
    compressed BMP variants (RLE)."""
    import struct

    import numpy as np

    if len(b) < 54 or b[0:2] != b"BM":
        raise ValueError("not a BMP file")
    (data_offset,) = struct.unpack_from("<I", b, 10)
    (hdr_size, width, height) = struct.unpack_from("<Iii", b, 14)
    if hdr_size < 40:
        raise ValueError(f"unsupported DIB header size {hdr_size}")
    (bpp,) = struct.unpack_from("<H", b, 28)
    (compression,) = struct.unpack_from("<I", b, 30)
    if compression not in (0, 3):  # BI_RGB / BI_BITFIELDS-as-stored
        raise NotImplementedError(f"compressed BMP (method {compression})")
    top_down = height < 0
    height = abs(height)
    if bpp == 8:
        # palette: 4 bytes per entry (BGRX) right after the DIB header
        pal = np.frombuffer(
            b, dtype=np.uint8, count=256 * 4, offset=14 + hdr_size
        ).reshape(256, 4)[:, :3][:, ::-1]  # BGR → RGB
        channels = 1
    elif bpp in (24, 32):
        channels = bpp // 8
    else:
        raise ValueError(f"unsupported bit depth {bpp}")
    row_bytes = (width * (bpp // 8) + 3) & ~3
    need = row_bytes * height
    raw = np.frombuffer(b, dtype=np.uint8, count=need, offset=data_offset)
    rows = raw.reshape(height, row_bytes)[:, : width * (bpp // 8)]
    if not top_down:
        rows = rows[::-1]
    if bpp == 8:
        px = pal[rows.reshape(height, width)]  # palette lookup → H×W×3 RGB
        return width, height, 3, px
    px = rows.reshape(height, width, channels)
    # stored order is BGR(A) → return RGB(A)
    px = np.concatenate([px[:, :, 2::-1], px[:, :, 3:]], axis=2)
    return width, height, channels, px


def decode_image_bmp(media: DataFrame) -> DataFrame:
    """REAL uncompressed-image decode: BMP header + BI_RGB pixel rows
    (8/24/32-bpp, padding and row order handled), pure numpy inside the
    Arrow-batched ``mapInPandas``. Output per media: (media_id, width,
    height, channels, n_px, sum_r, sum_g, sum_b, px_md5, decode_error) —
    channel sums as exact integers, px_md5 over the row-major RGB bytes
    so two engines can compare decoded content without floats. Dirty or
    compressed blobs produce a tagged NULL row, never a failed batch."""
    return _image_stats_decode(media, _parse_bmp)


def _image_stats_decode(media: DataFrame, parse_fn) -> DataFrame:
    """Shared Arrow-batched decode frame for the pure-Python image
    parsers (BMP, PNG): parse each blob to an HxWxC uint8 array, emit
    exact integer channel sums + an md5 over the row-major RGB bytes so
    two engines compare decoded content without floats. Dirty or
    unsupported blobs produce a tagged NULL row, never a failed batch."""
    schema = _image_stats_schema()

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {f.name: [] for f in schema.fields}
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                rows["media_id"].append(mid)
                _append_image_stats(rows, parse_fn, bytes(blob))
            yield pd.DataFrame(rows)

    return media.select("media_id", "content").mapInPandas(decode, schema)


def _append_image_stats(rows: dict, parse_fn, blob: bytes) -> None:
    """Append one decoded-stats row (minus the id, which the caller owns)
    to the ``_image_stats_schema``-shaped column dict — shared by the
    two-hop decode frame above and the fused synth+decode hop
    (``synth_decode_png_stats``)."""
    import hashlib

    try:
        w, h, c, px = parse_fn(blob)
        rgb = px[:, :, :3]
        n_have = rgb.shape[2]  # gray=1 / gray+alpha=2 PNGs
        rows["width"].append(w)
        rows["height"].append(h)
        rows["channels"].append(c)
        rows["n_px"].append(w * h)
        for i, col in enumerate(("sum_r", "sum_g", "sum_b")):
            rows[col].append(int(rgb[:, :, i].sum()) if i < n_have else None)
        rows["px_md5"].append(hashlib.md5(rgb.tobytes()).hexdigest())
        rows["decode_error"].append(None)
    except (ValueError, NotImplementedError) as e:
        for col in (
            "width",
            "height",
            "channels",
            "n_px",
            "sum_r",
            "sum_g",
            "sum_b",
            "px_md5",
        ):
            rows[col].append(None)
        rows["decode_error"].append(str(e))


def _image_stats_schema() -> "T.StructType":
    return T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("width", T.LongType()),
            T.StructField("height", T.LongType()),
            T.StructField("channels", T.LongType()),
            T.StructField("n_px", T.LongType()),
            T.StructField("sum_r", T.LongType()),
            T.StructField("sum_g", T.LongType()),
            T.StructField("sum_b", T.LongType()),
            T.StructField("px_md5", T.StringType()),
            T.StructField("decode_error", T.StringType()),
        ]
    )


def synth_decode_png_stats(df: DataFrame) -> DataFrame:
    """FUSED synth→decode in ONE Arrow hop (r13, guide §4: you cannot
    remove the JVM↔Python boundary cost, but you control how many times
    bytes cross it). The two-hop form —
    ``decode_image_png(synth_png_from_ids(df))`` — ships every PNG blob
    Python→JVM after synthesis and JVM→Python again for decoding, plus a
    second round of Arrow batch framing and worker dispatch; this
    operator runs the identical synth body (``_png_blob_for_id``) and
    the identical parser (``_parse_png``) back-to-back inside one
    ``mapInPandas``, so blobs never cross the boundary at all. Output is
    byte-identical to the two-hop composition (pinned in
    tests/test_multimodal.py); measured A/B alternated at sf0.1:
    ~1.5 s → ~1.1 s for ``multimodal_decode_png``. The two-hop
    operators stay public — real pipelines that ingest EXISTING blobs
    need the decode hop alone."""
    schema = _image_stats_schema()

    def fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {f.name: [] for f in schema.fields}
            for did in pdf["doc_id"]:
                did = int(did)
                rows["media_id"].append(did)
                _append_image_stats(rows, _parse_png, _png_blob_for_id(did))
            yield pd.DataFrame(rows)

    return df.select("doc_id").mapInPandas(fused, schema)


def _parse_png(b: bytes):
    """Pure-Python PNG decode → (width, height, channels, HxWxC uint8
    pixel ndarray) using only stdlib ``zlib`` + ``struct`` + numpy:
    chunk walk, IHDR parse, IDAT concat + inflate, per-scanline
    unfilter (all five filter types; Sub vectorized as a per-lane
    cumsum, Up fully vectorized), palette expansion to RGB. Supports
    bit depth 8, color types 0 (gray), 2 (RGB), 3 (palette), 4
    (gray+alpha), 6 (RGBA), interlace 0. Raises ValueError on malformed
    input, NotImplementedError on other depths / Adam7 interlacing."""
    import struct
    import zlib

    import numpy as np

    if len(b) < 8 or b[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG file")
    pos = 8
    ihdr = None
    plte = None
    idat = []
    while pos + 8 <= len(b):
        (length,) = struct.unpack_from(">I", b, pos)
        ctype = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + length]
        if len(data) < length:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + data + crc
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    width, height, depth, color_type, comp, filt, interlace = ihdr
    if comp != 0 or filt != 0:
        raise ValueError("unsupported PNG compression/filter method")
    if interlace != 0:
        raise NotImplementedError("Adam7-interlaced PNG")
    if depth != 8:
        raise NotImplementedError(f"PNG bit depth {depth}")
    n_ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
    if n_ch is None:
        raise ValueError(f"unknown PNG color type {color_type}")
    if color_type == 3 and plte is None:
        raise ValueError("palette PNG missing PLTE")
    if not idat:
        raise ValueError("PNG missing IDAT")
    raw = zlib.decompress(b"".join(idat))
    stride = width * n_ch
    if len(raw) != height * (stride + 1):
        raise ValueError("PNG pixel data length mismatch")
    raw = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    filters = raw[:, 0]
    cur = raw[:, 1:].astype(np.int64)
    out = np.zeros((height, stride), dtype=np.int64)
    bpp = n_ch  # bytes per pixel at depth 8
    for y in range(height):
        f = int(filters[y])
        prev = out[y - 1] if y else np.zeros(stride, dtype=np.int64)
        row = cur[y]
        if f == 0:
            out[y] = row & 0xFF
        elif f == 1:  # Sub: per-lane prefix sum mod 256
            lanes = row.reshape(-1, bpp) if stride % bpp == 0 else None
            if lanes is not None:
                out[y] = (np.cumsum(lanes, axis=0) % 256).reshape(stride)
            else:  # unreachable at depth 8, kept for safety
                acc = np.zeros(stride, dtype=np.int64)
                for x in range(stride):
                    a = acc[x - bpp] if x >= bpp else 0
                    acc[x] = (row[x] + a) & 0xFF
                out[y] = acc
        elif f == 2:  # Up
            out[y] = (row + prev) & 0xFF
        elif f == 3:  # Average
            for x in range(stride):
                a = out[y, x - bpp] if x >= bpp else 0
                out[y, x] = (row[x] + ((a + prev[x]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for x in range(stride):
                a = out[y, x - bpp] if x >= bpp else 0
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + int(prev[x]) - c
                pa, pb, pc = abs(p - a), abs(p - int(prev[x])), abs(p - c)
                if pa <= pb and pa <= pc:
                    pred = a
                elif pb <= pc:
                    pred = int(prev[x])
                else:
                    pred = c
                out[y, x] = (row[x] + pred) & 0xFF
        else:
            raise ValueError(f"invalid PNG filter type {f}")
    px = out.astype(np.uint8).reshape(height, width, n_ch)
    if color_type == 3:
        idx = px.reshape(height, width)
        if int(idx.max()) >= len(plte):
            raise ValueError("PNG palette index out of range")
        return width, height, 3, plte[idx]
    return width, height, n_ch, px


def decode_image_png(media: DataFrame) -> DataFrame:
    """REAL compressed-image decode with ZERO non-stdlib dependencies:
    PNG chunk walk + zlib inflate + scanline unfilter (``_parse_png``),
    pure Python/numpy inside the same Arrow-batched ``mapInPandas``
    frame as ``decode_image_bmp`` — identical output schema (exact
    integer channel sums + px_md5), so the two formats are
    interchangeable downstream. Narrows the remaining codec stub to
    JPEG/MP3 (entropy coders with no stdlib decoder)."""
    return _image_stats_decode(media, _parse_png)


def byte_histogram(media: DataFrame) -> DataFrame:
    """Per-media byte-value histogram: (media_id, bin, n) with
    bin = byte_value // (256/64), 64 bins. The deterministic stand-in for
    image feature extraction; numpy-vectorized inside each Arrow batch."""
    import numpy as np

    width = 256 // 64
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("bin", T.LongType()),
            T.StructField("n", T.LongType()),
        ]
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_id, out_bin, out_n = [], [], []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                arr = np.frombuffer(blob, dtype=np.uint8) // width
                vals, counts = np.unique(arr, return_counts=True)
                out_id.extend([mid] * len(vals))
                out_bin.extend(int(v) for v in vals)
                out_n.extend(int(c) for c in counts)
            yield pd.DataFrame({"media_id": out_id, "bin": out_bin, "n": out_n})

    return media.select("media_id", "content").mapInPandas(extract, schema)


def frame_sample(media: DataFrame) -> DataFrame:
    """Video-style frame sampling: every 128 bytes take a 64-byte slice
    ("frame"), up to 8 per media;
    output (media_id, frame_idx, frame_md5, frame_len). Pure byte
    plumbing — a real pipeline would decode each slice; the sampling
    cardinality, batching and hashing are the part Spark owns either way."""
    import hashlib

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("frame_idx", T.LongType()),
            T.StructField("frame_md5", T.StringType()),
            T.StructField("frame_len", T.LongType()),
        ]
    )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_id": [], "frame_idx": [], "frame_md5": [], "frame_len": []}
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                b = bytes(blob)
                for i in range(8):
                    start = i * 128
                    if start >= len(b):
                        break
                    frame = b[start : start + 64]
                    rows["media_id"].append(mid)
                    rows["frame_idx"].append(i)
                    rows["frame_md5"].append(hashlib.md5(frame).hexdigest())
                    rows["frame_len"].append(len(frame))
            yield pd.DataFrame(rows)

    return media.select("media_id", "content").mapInPandas(sample, schema)


def audio_rms_windows(media: DataFrame) -> DataFrame:
    """Audio-style windowed RMS energy over the byte "waveform", in
    256-sample windows:
    (media_id, window_idx, n_samples, sum_sq). The energy is delivered as
    the exact integer sum of squares (cross-engine exact); RMS =
    sqrt(sum_sq / n_samples) is a trivial derived column left to callers
    so the oracle comparison stays integer-exact."""
    import numpy as np

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("window_idx", T.LongType()),
            T.StructField("n_samples", T.LongType()),
            T.StructField("sum_sq", T.LongType()),
        ]
    )

    def rms(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_id": [], "window_idx": [], "n_samples": [], "sum_sq": []}
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                arr = np.frombuffer(blob, dtype=np.uint8).astype(np.int64)
                for w in range(0, len(arr), 256):
                    chunk = arr[w : w + 256]
                    rows["media_id"].append(mid)
                    rows["window_idx"].append(w // 256)
                    rows["n_samples"].append(len(chunk))
                    rows["sum_sq"].append(int((chunk * chunk).sum()))
            yield pd.DataFrame(rows)

    return media.select("media_id", "content").mapInPandas(rms, schema)


def resize_nearest(media: DataFrame) -> DataFrame:
    """Nearest-neighbour resize over the byte-grid view of each blob: the
    payload is treated as a row-major 32-wide grid (height = ceil(len/32))
    and sampled down to 8×8. Real
    image resize swaps the per-pixel gather for a codec + interpolation
    kernel; the Spark-side contract — Arrow batching, binary in/out,
    per-media metadata — is identical and is what this operator pins.

    Output: (media_id, out_w, out_h, resized_md5, resized_len).
    """
    import hashlib

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("out_w", T.LongType()),
            T.StructField("out_h", T.LongType()),
            T.StructField("resized_md5", T.StringType()),
            T.StructField("resized_len", T.LongType()),
        ]
    )

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                "media_id": [],
                "out_w": [],
                "out_h": [],
                "resized_md5": [],
                "resized_len": [],
            }
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                b = bytes(blob)
                n = len(b)
                h = -(-n // 32)
                out = bytes(
                    b[min((r * h) // 8 * 32 + (c * 32) // 8, n - 1)]
                    for r in range(8)
                    for c in range(8)
                )
                rows["media_id"].append(mid)
                rows["out_w"].append(8)
                rows["out_h"].append(8)
                rows["resized_md5"].append(hashlib.md5(out).hexdigest())
                rows["resized_len"].append(len(out))
            yield pd.DataFrame(rows)

    return media.select("media_id", "content").mapInPandas(resize, schema)


def synth_bmp_from_ids(df: DataFrame) -> DataFrame:
    """Deterministic BMP test-pattern synthesizer (the fake-codec
    charter): one 24-bpp bottom-up BI_RGB blob per input id, whose
    pixel values are a CLOSED-FORM function of (id, x, y) —

        r = (3·id + 7x +  y) % 256
        g = (2·id + 5x + 3y) % 256
        b = (  id + 37x + 11y) % 256,   W = 4 + id%5,  H = 3 + id%4

    — so a SQL oracle can recompute every decoded statistic without any
    image library. Ids divisible by 97 emit a TRUNCATED blob instead,
    exercising the decoder's tagged-dirty path deterministically.
    Runs as one Arrow-batched ``mapInPandas`` over the pruned id column;
    blob bytes follow the exact layout ``_parse_bmp`` documents
    (BGR storage, 4-byte row padding, bottom-up rows)."""
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                ids.append(did)
                blobs.append(_bmp_blob_for_id(did))
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    return df.select("doc_id").mapInPandas(synth, schema)


def _bmp_blob_for_id(did: int) -> bytes:
    """One synthetic BMP blob for ``did`` — the per-id body of
    ``synth_bmp_from_ids``, extracted (r13) for the fused synth+decode
    hop (``synth_decode_bmp_stats``). Ids ≡ 0 (mod 97) emit a truncated
    header → tagged-dirty path downstream."""
    import struct

    import numpy as np

    if did % 97 == 0:
        return b"BM\x00\x00"  # truncated header → tagged dirty
    w, h = 4 + did % 5, 3 + did % 4
    x = np.arange(w)[None, :]
    y = np.arange(h)[:, None]
    r = (3 * did + 7 * x + 1 * y) % 256
    g = (2 * did + 5 * x + 3 * y) % 256
    b = (1 * did + 37 * x + 11 * y) % 256
    bgr = np.stack(np.broadcast_arrays(b, g, r), axis=2).astype(np.uint8)
    row_bytes = (w * 3 + 3) & ~3
    body = b"".join(
        bgr[yy].tobytes().ljust(row_bytes, b"\x00")
        for yy in range(h - 1, -1, -1)  # bottom-up
    )
    dib = struct.pack(
        "<IiiHHIIiiII",
        40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0,
    )
    off = 14 + len(dib)
    return (
        b"BM"
        + struct.pack("<IHHI", off + len(body), 0, 0, off)
        + dib
        + body
    )


def synth_decode_bmp_stats(df: DataFrame) -> DataFrame:
    """FUSED BMP synth→decode in ONE Arrow hop — the BMP twin of
    ``synth_decode_png_stats`` (same r13 rationale: the two-hop
    composition ships every blob across the JVM↔Python boundary twice;
    fused, it never crosses). Identical bytes: ``_bmp_blob_for_id`` +
    ``_parse_bmp`` back-to-back; output pinned equal to the two-hop form
    in tests/test_multimodal.py."""
    schema = _image_stats_schema()

    def fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {f.name: [] for f in schema.fields}
            for did in pdf["doc_id"]:
                did = int(did)
                rows["media_id"].append(did)
                _append_image_stats(rows, _parse_bmp, _bmp_blob_for_id(did))
            yield pd.DataFrame(rows)

    return df.select("doc_id").mapInPandas(fused, schema)


def synth_wav_from_ids(df: DataFrame) -> DataFrame:
    """Deterministic RIFF/WAV test-pattern synthesizer (fake-codec
    charter, audio twin of ``synth_bmp_from_ids``): one 16-bit mono
    8 kHz PCM blob per id whose samples are the closed form

        s_i = ((id·31 + i·17) % 4001) − 2000,   n = 50 + id%32

    so a SQL oracle recomputes the decoded energy/peak exactly. Ids
    ≡ 0 (mod 89) emit a truncated blob → the decoder's tagged-dirty
    path. One Arrow-batched ``mapInPandas`` over the pruned id column."""
    import struct

    import numpy as np

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    rate, bits, channels = 8000, 16, 1

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                if did % 89 == 0:
                    blob = b"RIFF\x00\x00"  # truncated → tagged dirty
                else:
                    n = 50 + did % 32
                    i = np.arange(n, dtype=np.int64)
                    s = ((did * 31 + i * 17) % 4001) - 2000
                    data = s.astype("<i2").tobytes()
                    block = channels * bits // 8
                    fmt = struct.pack(
                        "<HHIIHH", 1, channels, rate, rate * block, block, bits
                    )
                    blob = (
                        b"RIFF"
                        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
                        + b"WAVE"
                        + b"fmt "
                        + struct.pack("<I", len(fmt))
                        + fmt
                        + b"data"
                        + struct.pack("<I", len(data))
                        + data
                    )
                ids.append(did)
                blobs.append(blob)
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    return df.select("doc_id").mapInPandas(synth, schema)


def synth_png_from_ids(df: DataFrame) -> DataFrame:
    """Deterministic PNG test-pattern synthesizer (fake-codec charter,
    completing the BMP/WAV pair): one 8-bit RGB PNG per id with the SAME
    closed-form pixel field as ``synth_bmp_from_ids`` —

        r = (3·id + 7x +  y) % 256
        g = (2·id + 5x + 3y) % 256
        b = (  id + 37x + 11y) % 256,   W = 4 + id%5,  H = 3 + id%4

    — but stored through the full PNG pipeline: per-scanline filter
    type (id + y) % 5 (so every blob exercises None/Sub/Up/Average/
    Paeth unfiltering), zlib-compressed IDAT, CRC'd chunks. Ids ≡ 0
    (mod 101) emit a truncated blob → tagged-dirty path. One
    Arrow-batched ``mapInPandas`` over the pruned id column."""
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                ids.append(did)
                blobs.append(_png_blob_for_id(did))
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    return df.select("doc_id").mapInPandas(synth, schema)


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    body = ctype + data
    return (
        struct.pack(">I", len(data))
        + body
        + struct.pack(">I", zlib.crc32(body))
    )


def _paeth_predict(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_blob_for_id(did: int) -> bytes:
    """One synthetic PNG blob for ``did`` — the per-id body of
    ``synth_png_from_ids``, extracted (r13) so the fused synth+decode
    hop (``synth_decode_png_stats``) runs the IDENTICAL bytes without a
    second Python boundary crossing. Ids ≡ 0 (mod 101) emit a truncated
    blob → tagged-dirty path downstream."""
    import struct
    import zlib

    if did % 101 == 0:
        return b"\x89PNG\r\n\x1a\n\x00"  # truncated → dirty
    w, h = 4 + did % 5, 3 + did % 4
    stride = w * 3
    recon = [
        [
            v
            for x in range(w)
            for v in (
                (3 * did + 7 * x + y) % 256,
                (2 * did + 5 * x + 3 * y) % 256,
                (did + 37 * x + 11 * y) % 256,
            )
        ]
        for y in range(h)
    ]
    raw = b""
    for y in range(h):
        f = (did + y) % 5
        cur = recon[y]
        prev = recon[y - 1] if y else [0] * stride
        line = []
        for x in range(stride):
            a = cur[x - 3] if x >= 3 else 0
            c = prev[x - 3] if x >= 3 else 0
            if f == 0:
                v = cur[x]
            elif f == 1:
                v = cur[x] - a
            elif f == 2:
                v = cur[x] - prev[x]
            elif f == 3:
                v = cur[x] - ((a + prev[x]) >> 1)
            else:
                v = cur[x] - _paeth_predict(a, prev[x], c)
            line.append(v & 0xFF)
        raw += bytes([f]) + bytes(line)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
