"""Unit tests for multimodal binary-column operators: schema/typing of
the media table, mapInPandas feature extraction, container decoders."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from datamodel_clinicaldata_spark.operators.multimodal import (
    audio_rms_windows,
    byte_histogram,
    frame_sample,
    media_from_documents,
)


@pytest.fixture(scope="module")
def media_df(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="abcd" * 100),  # 400 bytes
            Row(doc_id=2, text="z"),  # 1 byte
        ]
    )
    return media_from_documents(docs)


def test_media_schema_and_meta(media_df):
    schema = dict(media_df.dtypes)
    assert schema["content"] == "binary"
    assert schema["media_meta"].startswith("struct<width:int,height:int")
    r = {row["media_id"]: row for row in media_df.collect()}
    assert bytes(r[1]["content"]) == b"abcd" * 100
    assert r[1]["media_meta"]["width"] == 400 % 640
    assert r[1]["media_meta"]["duration_ms"] == 4000


def test_byte_histogram_exact(media_df):
    rows = {
        (r["media_id"], r["bin"]): r["n"]
        for r in byte_histogram(media_df).collect()
    }
    # 'a'=97,'b'=98,'c'=99 → bin 24; 'd'=100 → bin 25
    assert rows[(1, 24)] == 300
    assert rows[(1, 25)] == 100
    assert rows[(2, ord("z") // 4)] == 1


def test_frame_sample_cardinality_and_digests(media_df):
    rows = [r for r in frame_sample(media_df).collect() if r["media_id"] == 1]
    # 400 bytes, stride 128 → frames at 0,128,256,384 → 4 frames
    assert sorted(r["frame_idx"] for r in rows) == [0, 1, 2, 3]
    blob = b"abcd" * 100
    first = next(r for r in rows if r["frame_idx"] == 0)
    assert first["frame_md5"] == hashlib.md5(blob[:64]).hexdigest()
    last = next(r for r in rows if r["frame_idx"] == 3)
    assert last["frame_len"] == 400 - 384


def test_audio_rms_windows_exact(media_df):
    rows = [r for r in audio_rms_windows(media_df).collect() if r["media_id"] == 1]
    assert sorted(r["window_idx"] for r in rows) == [0, 1]
    w0 = next(r for r in rows if r["window_idx"] == 0)
    assert w0["n_samples"] == 256
    expected = sum(b * b for b in (b"abcd" * 100)[:256])
    assert w0["sum_sq"] == expected


def _wav_bytes(samples, rate=16_000, channels=1, bits=16):
    """Minimal RIFF/WAV writer (little-endian PCM) for fixtures."""
    import struct

    import numpy as np

    dt = {8: np.uint8, 16: "<i2", 32: "<i4"}[bits]
    arr = np.asarray(samples)
    if bits == 8:
        arr = (arr + 128).astype(np.uint8)
    data = arr.astype(dt).tobytes()
    block = channels * bits // 8
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate, rate * block, block, bits
    )
    return (
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


def _bmp_bytes(px_rows, bpp=24, top_down=False):
    """Minimal BMP writer: px_rows is a list of rows of (r, g, b)."""
    import struct

    h, w = len(px_rows), len(px_rows[0])
    row_bytes = (w * (bpp // 8) + 3) & ~3
    rows = px_rows if top_down else px_rows[::-1]
    body = b""
    for row in rows:
        line = b"".join(bytes([b, g, r]) for (r, g, b) in row)  # stored BGR
        body += line + b"\0" * (row_bytes - len(line))
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, -h if top_down else h, 1, bpp, 0,
        len(body), 2835, 2835, 0, 0,
    )
    off = 14 + len(dib)
    hdr = b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
    return hdr + dib + body


def _png_bytes(px_rows, color_type=2, filters=None, palette=None):
    """Minimal PNG writer (stdlib only): px_rows is HxW of per-pixel
    tuples (or palette indices for color_type 3). ``filters`` picks the
    per-scanline filter type (default all 0); the writer APPLIES the
    filter so the stored bytes exercise the reader's unfilter path."""
    import struct
    import zlib

    h, w = len(px_rows), len(px_rows[0])
    n_ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    filters = filters or [0] * h

    def chunk(ctype, data):
        body = ctype + data
        return struct.pack(">I", len(data)) + body + struct.pack(
            ">I", zlib.crc32(body)
        )

    def flat(row):
        out = []
        for px in row:
            out.extend(px if isinstance(px, (tuple, list)) else (px,))
        return out

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    stride = w * n_ch
    recon = [[0] * stride for _ in range(h)]
    raw = b""
    for y in range(h):
        recon[y] = flat(px_rows[y])
        f = filters[y]
        prev = recon[y - 1] if y else [0] * stride
        line = []
        for x in range(stride):
            a = recon[y][x - n_ch] if x >= n_ch else 0
            c = prev[x - n_ch] if x >= n_ch else 0
            if f == 0:
                v = recon[y][x]
            elif f == 1:
                v = recon[y][x] - a
            elif f == 2:
                v = recon[y][x] - prev[x]
            elif f == 3:
                v = recon[y][x] - ((a + prev[x]) >> 1)
            else:
                v = recon[y][x] - paeth(a, prev[x], c)
            line.append(v & 0xFF)
        raw += bytes([f]) + bytes(line)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if color_type == 3:
        out += chunk(b"PLTE", bytes(v for rgb in palette for v in rgb))
    out += chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    return out


def test_decode_image_png_rgb_all_filters(spark):
    """Every scanline filter type (0..4) on one RGB image; channel sums
    and dimensions must match the pre-filter pixels exactly."""
    from datamodel_clinicaldata_spark.operators.multimodal import decode_image_png

    px = [
        [((x * 37 + y * 11) % 256, (x * 5) % 256, (y * 7) % 256) for x in range(6)]
        for y in range(5)
    ]
    blob = _png_bytes(px, color_type=2, filters=[0, 1, 2, 3, 4])
    df = spark.createDataFrame([Row(media_id=1, content=bytearray(blob))])
    r = decode_image_png(df).collect()[0]
    assert (r["width"], r["height"], r["channels"]) == (6, 5, 3)
    assert r["n_px"] == 30
    assert r["sum_r"] == sum(p[0] for row in px for p in row)
    assert r["sum_g"] == sum(p[1] for row in px for p in row)
    assert r["sum_b"] == sum(p[2] for row in px for p in row)
    assert r["decode_error"] is None


def test_decode_image_png_matches_bmp_pixels(spark):
    """The SAME pixels through PNG and BMP decode must agree on px_md5 —
    the cross-format pin that both parsers reconstruct identical RGB."""
    from datamodel_clinicaldata_spark.operators.multimodal import (
        decode_image_bmp,
        decode_image_png,
    )

    px = [[(x * 19 % 256, y * 23 % 256, (x + y) % 256) for x in range(4)] for y in range(3)]
    png = _png_bytes(px, color_type=2, filters=[4, 1, 3])
    bmp = _bmp_bytes(px, bpp=24)
    p = decode_image_png(
        spark.createDataFrame([Row(media_id=1, content=bytearray(png))])
    ).collect()[0]
    b = decode_image_bmp(
        spark.createDataFrame([Row(media_id=1, content=bytearray(bmp))])
    ).collect()[0]
    assert p["px_md5"] == b["px_md5"]
    assert (p["sum_r"], p["sum_g"], p["sum_b"]) == (
        b["sum_r"],
        b["sum_g"],
        b["sum_b"],
    )


def test_decode_image_png_palette_gray_rgba(spark):
    from datamodel_clinicaldata_spark.operators.multimodal import decode_image_png

    pal = [(255, 0, 0), (0, 255, 0), (0, 0, 255)]
    pal_png = _png_bytes([[0, 1], [2, 1]], color_type=3, palette=pal)
    gray_png = _png_bytes([[(10,), (20,)], [(30,), (40,)]], color_type=0)
    rgba_png = _png_bytes(
        [[(1, 2, 3, 4), (5, 6, 7, 8)]], color_type=6, filters=[1]
    )
    rows = [
        Row(media_id=1, content=bytearray(pal_png)),
        Row(media_id=2, content=bytearray(gray_png)),
        Row(media_id=3, content=bytearray(rgba_png)),
    ]
    out = {
        r["media_id"]: r
        for r in decode_image_png(spark.createDataFrame(rows)).collect()
    }
    # palette expands to RGB: one red + one blue + two green pixels
    assert out[1]["channels"] == 3
    assert (out[1]["sum_r"], out[1]["sum_g"], out[1]["sum_b"]) == (255, 510, 255)
    # grayscale: 1 channel, sums replicate the single channel? no —
    # sum_r is channel 0; gray has only channel 0
    assert out[2]["channels"] == 1
    assert out[2]["sum_r"] == 100
    assert out[3]["channels"] == 4
    assert (out[3]["sum_r"], out[3]["sum_g"], out[3]["sum_b"]) == (6, 8, 10)
    assert all(out[i]["decode_error"] is None for i in (1, 2, 3))


def test_decode_image_png_dirty_and_unsupported_tagged(spark):
    from datamodel_clinicaldata_spark.operators.multimodal import decode_image_png

    good = _png_bytes([[(9, 9, 9)]], color_type=2)
    interlaced = bytearray(good)
    interlaced[8 + 8 + 12] = 1  # IHDR interlace byte -> Adam7
    # interlace byte flips invalidate the CRC; the parser ignores CRCs
    rows = [
        Row(media_id=1, content=bytearray(b"not a png")),
        Row(media_id=2, content=bytearray(good[:20])),
        Row(media_id=3, content=bytearray(interlaced)),
        Row(media_id=4, content=bytearray(good)),
    ]
    out = {
        r["media_id"]: r
        for r in decode_image_png(spark.createDataFrame(rows)).collect()
    }
    assert out[1]["decode_error"] is not None
    assert out[2]["decode_error"] is not None
    assert "interlaced" in out[3]["decode_error"]
    assert out[4]["decode_error"] is None
    assert out[4]["sum_r"] == 9


def test_decode_audio_wav_pcm16(spark):
    from datamodel_clinicaldata_spark.operators.multimodal import decode_audio_wav

    samples = [0, 1000, -1000, 32767, -32768, 5]
    df = spark.createDataFrame(
        [Row(media_id=1, content=bytearray(_wav_bytes(samples)))]
    )
    r = decode_audio_wav(df).collect()[0]
    assert r["sample_rate"] == 16_000
    assert r["n_channels"] == 1
    assert r["bits_per_sample"] == 16
    assert r["n_frames"] == len(samples)
    assert r["duration_ms"] == len(samples) * 1000 // 16_000
    assert r["sum_sq"] == sum(s * s for s in samples)
    assert r["peak_abs"] == 32768
    assert r["decode_error"] is None


def test_decode_audio_wav_8bit_stereo(spark):
    from datamodel_clinicaldata_spark.operators.multimodal import decode_audio_wav

    # stereo interleaved, 8-bit unsigned storage centered at 128
    samples = [0, 10, -20, 30, 127, -128]
    df = spark.createDataFrame(
        [Row(media_id=7, content=bytearray(_wav_bytes(samples, rate=8000, channels=2, bits=8)))]
    )
    r = decode_audio_wav(df).collect()[0]
    assert r["n_channels"] == 2
    assert r["bits_per_sample"] == 8
    assert r["n_frames"] == 3  # 6 samples / 2 channels
    assert r["sum_sq"] == sum(s * s for s in samples)
    assert r["decode_error"] is None


def test_decode_audio_wav_pcm32_sum_sq_exceeds_int64(spark):
    """ADVICE r7 regression: 32-bit PCM squares reach 2^62, so a naive
    int64 accumulator wraps after two near-full-scale samples. The sum
    must be EXACT (schema is decimal(38,0)) — here it is 3 * 2^62 + 1,
    which does not even fit in int64."""
    from datamodel_clinicaldata_spark.operators.multimodal import decode_audio_wav

    samples = [-(2**31), 2**31 - 1, -(2**31), 1]
    expected = sum(s * s for s in samples)
    assert expected > 2**63 - 1  # the naive-int64 trap is actually armed
    df = spark.createDataFrame(
        [Row(media_id=9, content=bytearray(_wav_bytes(samples, bits=32)))]
    )
    r = decode_audio_wav(df).collect()[0]
    assert r["bits_per_sample"] == 32
    assert int(r["sum_sq"]) == expected
    assert r["peak_abs"] == 2**31
    assert r["decode_error"] is None


def test_decode_audio_wav_dirty_blobs_tagged_not_fatal(spark):
    from datamodel_clinicaldata_spark.operators.multimodal import decode_audio_wav

    good = _wav_bytes([1, 2, 3])
    rows = [
        Row(media_id=1, content=bytearray(good)),
        Row(media_id=2, content=bytearray(b"not a wav at all")),
        Row(media_id=3, content=bytearray(good[:20])),  # truncated header
    ]
    out = {r["media_id"]: r for r in decode_audio_wav(spark.createDataFrame(rows)).collect()}
    assert out[1]["decode_error"] is None and out[1]["n_frames"] == 3
    assert out[2]["decode_error"] is not None and out[2]["sum_sq"] is None
    assert out[3]["decode_error"] is not None


def test_decode_image_bmp_24bit_bottom_up(spark):
    from datamodel_clinicaldata_spark.operators.multimodal import decode_image_bmp

    # 3x2 image with distinct channel sums; width 3 → row padding exercised
    px = [
        [(255, 0, 0), (0, 255, 0), (0, 0, 255)],
        [(10, 20, 30), (40, 50, 60), (70, 80, 90)],
    ]
    df = spark.createDataFrame([Row(media_id=1, content=bytearray(_bmp_bytes(px)))])
    r = decode_image_bmp(df).collect()[0]
    assert (r["width"], r["height"], r["channels"]) == (3, 2, 3)
    assert r["n_px"] == 6
    assert r["sum_r"] == 255 + 10 + 40 + 70
    assert r["sum_g"] == 255 + 20 + 50 + 80
    assert r["sum_b"] == 255 + 30 + 60 + 90
    assert r["decode_error"] is None
    # row-major RGB bytes, top row first
    flat = bytes(v for row in px for p in row for v in p)
    assert r["px_md5"] == hashlib.md5(flat).hexdigest()


def test_decode_image_bmp_top_down_equals_bottom_up(spark):
    from datamodel_clinicaldata_spark.operators.multimodal import decode_image_bmp

    px = [[(1, 2, 3), (4, 5, 6)], [(7, 8, 9), (10, 11, 12)]]
    df = spark.createDataFrame(
        [
            Row(media_id=1, content=bytearray(_bmp_bytes(px, top_down=False))),
            Row(media_id=2, content=bytearray(_bmp_bytes(px, top_down=True))),
        ]
    )
    out = {r["media_id"]: r for r in decode_image_bmp(df).collect()}
    assert out[1]["px_md5"] == out[2]["px_md5"]
    assert out[1]["decode_error"] is None and out[2]["decode_error"] is None


def test_decode_image_bmp_dirty_and_compressed_tagged(spark):
    from datamodel_clinicaldata_spark.operators.multimodal import decode_image_bmp

    import struct

    good = _bmp_bytes([[(1, 2, 3)]])
    # flip the compression field to 1 (BI_RLE8) → NotImplementedError path
    rle = bytearray(good)
    struct.pack_into("<I", rle, 14 + 16, 1)
    rows = [
        Row(media_id=1, content=bytearray(good)),
        Row(media_id=2, content=bytearray(b"PNG\x89 pretending")),
        Row(media_id=3, content=bytearray(bytes(rle))),
    ]
    out = {r["media_id"]: r for r in decode_image_bmp(spark.createDataFrame(rows)).collect()}
    assert out[1]["decode_error"] is None
    assert out[2]["decode_error"] is not None
    assert "compressed" in out[3]["decode_error"]


def test_fused_png_hop_matches_two_hop_composition(spark):
    """r13 fused synth+decode hop: ``synth_decode_png_stats`` must emit
    byte-identical rows to ``decode_image_png(synth_png_from_ids(df))``
    — the fusion removes two Python-boundary crossings of every blob,
    never a value. Covers clean, dirty (≡0 mod 101), and size-variant
    ids."""
    from datamodel_clinicaldata_spark.operators.multimodal import (
        decode_image_bmp,
        decode_image_png,
        synth_bmp_from_ids,
        synth_decode_bmp_stats,
        synth_decode_png_stats,
        synth_png_from_ids,
    )

    ids = [0, 1, 7, 89, 97, 101, 202, 255]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    for synth, dec, fused_op in (
        (synth_png_from_ids, decode_image_png, synth_decode_png_stats),
        (synth_bmp_from_ids, decode_image_bmp, synth_decode_bmp_stats),
    ):
        two_hop = {
            r["media_id"]: r.asDict() for r in dec(synth(df)).collect()
        }
        fused = {
            r["media_id"]: r.asDict() for r in fused_op(df).collect()
        }
        assert fused == two_hop


def test_synth_decode_roundtrip_all_codecs(spark):
    """The three closed-form synthesizers (BMP/WAV/PNG) roundtrip through
    their real decoders: decoded stats equal the generation formula, and
    the designated dirty ids surface as tagged rows, never failures."""
    from datamodel_clinicaldata_spark.operators.multimodal import (
        decode_audio_wav,
        decode_image_bmp,
        decode_image_png,
        synth_bmp_from_ids,
        synth_png_from_ids,
        synth_wav_from_ids,
    )

    ids = [0, 1, 7, 89, 97, 101, 255]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")

    for synth, dec, dirty_mod in (
        (synth_bmp_from_ids, decode_image_bmp, 97),
        (synth_png_from_ids, decode_image_png, 101),
    ):
        rows = {r["media_id"]: r for r in dec(synth(df)).collect()}
        assert set(rows) == set(ids)
        for did in ids:
            r = rows[did]
            if did % dirty_mod == 0:
                assert r["decode_error"] is not None and r["width"] is None
                continue
            w, h = 4 + did % 5, 3 + did % 4
            assert (r["width"], r["height"], r["n_px"]) == (w, h, w * h)
            assert r["sum_r"] == sum(
                (3 * did + 7 * x + y) % 256 for x in range(w) for y in range(h)
            )
            assert r["sum_b"] == sum(
                (did + 37 * x + 11 * y) % 256
                for x in range(w)
                for y in range(h)
            )

    rows = {r["media_id"]: r for r in decode_audio_wav(synth_wav_from_ids(df)).collect()}
    for did in ids:
        r = rows[did]
        if did % 89 == 0:
            assert r["decode_error"] is not None and r["n_frames"] is None
            continue
        n = 50 + did % 32
        samples = [((did * 31 + i * 17) % 4001) - 2000 for i in range(n)]
        assert r["n_frames"] == n and r["sample_rate"] == 8000
        assert int(r["sum_sq"]) == sum(s * s for s in samples)
        assert r["peak_abs"] == max(abs(s) for s in samples)
