"""Pure-stdlib media codecs (PNG, PCM-16 WAV, 24-bit BMP, GIF89a) and
their distributed decode paths.

The round-trip tests check each format's own edge cases; the two
distributed tests run once per :data:`CODECS` entry and compare every
decoded value with the closed form the synthetic generator plants,
written out here independently of the codec table.
"""

import base64
import io
import random
import struct
import wave

import pytest

from dandi_s3_log_parser_spark.operators.multimodal import (
    CODECS,
    _decode_bmp,
    _decode_gif,
    _decode_png,
    _decode_wav,
    _lzw_decode,
    _lzw_encode,
    decode_media,
    decode_stats,
    make_bmp,
    make_gif,
    make_png,
    make_wav,
    synthetic_media,
)


def _gif_index_sum(w, h, base):
    return sum((base + x + y) % 4 for y in range(h) for x in range(w))


def _png_stats(i):
    w, h, g = 8 + i % 13, 8 + i % 11, (i * 37) % 256
    return {
        "width": w, "height": h,
        "inflated_len": h * (w + 1),  # a filter byte per scanline
        "idat_byte_sum": w * h * g,
    }


def _wav_stats(i):
    rate, ch, n, amp = 8000 * (1 + i % 3), 1 + i % 2, 100 + i % 50, i % 128
    return {
        "sample_rate": rate, "channels": ch, "n_samples": n,
        "duration_ms": n * 1000 // rate,
        "data_byte_sum": n * ch * amp,
    }


def _bmp_stats(i):
    w, h = 4 + i % 9, 3 + i % 7
    stride = (3 * w + 3) // 4 * 4
    colorsum = (i % 256) + (i * 11 % 256) + (i * 29 % 256)
    return {
        "width": w, "height": h, "row_stride": stride,
        "pixel_bytes": stride * h,
        "pixel_byte_sum": w * h * colorsum,
        "byte_len": 54 + stride * h,
    }


def _gif_stats(i):
    w, h, base = 5 + i % 11, 4 + i % 7, i % 4
    return {
        "width": w, "height": h, "n_colors": 4,
        "n_pixels": w * h,
        "index_sum": _gif_index_sum(w, h, base),
    }


# media_id -> every decoded statistic of the payload synthetic_media plants
PLANTED_STATS = {
    "png": _png_stats, "wav": _wav_stats, "bmp": _bmp_stats, "gif": _gif_stats,
}

# media_id -> decode_media's (width, height, duration_ms, n_frames)
PLANTED_DIMS = {
    "png": lambda i: (8 + i % 13, 8 + i % 11, 0, 1),
    "wav": lambda i: (0, 0, (100 + i % 50) * 1000 // (8000 * (1 + i % 3)), 100 + i % 50),
    "bmp": lambda i: (4 + i % 9, 3 + i % 7, 0, 1),
    "gif": lambda i: (5 + i % 11, 4 + i % 7, 0, 1),
}


# ---------------------------------------------------------------------------
# per-format round trips
# ---------------------------------------------------------------------------


def test_png_codec_roundtrip_pure_python():
    """make_png emits a standards-valid PNG and _decode_png reads back
    the exact planted header dims and content statistics."""
    for w, h, g in ((8, 8, 0), (20, 18, 255), (13, 11, 97)):
        png = make_png(w, h, g)
        width, height, inflated_len, byte_sum = _decode_png(png)
        assert (width, height) == (w, h)
        assert inflated_len == h * (w + 1)  # filter byte per scanline
        assert byte_sum == w * h * g

    with pytest.raises(ValueError):
        _decode_png(b"GIF89a not a png")


def test_wav_codec_roundtrip_pure_python():
    """make_wav emits a standards-valid PCM-16 RIFF/WAVE and _decode_wav
    reads back the exact planted format and content statistics."""
    for rate, ch, n, amp in ((8000, 1, 100, 0), (24000, 2, 149, 127),
                             (16000, 2, 113, 64)):
        wav = make_wav(rate, ch, n, amp)
        got = _decode_wav(wav)
        assert got == (rate, ch, n, n * 1000 // rate, n * ch * amp)

    # stdlib wave module cross-checks ours against an independent,
    # standards-compliant reader
    w = wave.open(io.BytesIO(make_wav(16000, 2, 113, 64)))
    assert (w.getframerate(), w.getnchannels(), w.getnframes(),
            w.getsampwidth()) == (16000, 2, 113, 2)

    with pytest.raises(ValueError):
        _decode_wav(b"OggS not a wav")


def test_bmp_codec_roundtrip_pure_python():
    """make_bmp emits a standards-valid 24-bit BMP and _decode_bmp reads
    back the exact planted dims and padding-excluded pixel statistics —
    widths are chosen so row padding spans 0..3 bytes."""
    for w, h, bgr in ((4, 3, (0, 0, 0)), (5, 7, (255, 1, 2)),
                      (6, 2, (10, 20, 30)), (7, 4, (200, 100, 50))):
        bmp = make_bmp(w, h, bgr)
        stride = (3 * w + 3) // 4 * 4
        assert len(bmp) == 54 + stride * h
        width, height, got_stride, pixel_bytes, pixel_sum = _decode_bmp(bmp)
        assert (width, height, got_stride) == (w, h, stride)
        assert pixel_bytes == stride * h
        assert pixel_sum == w * h * sum(bgr)

    # top-down variant (negative height field): same pixels, same stats
    bmp = bytearray(make_bmp(5, 7, (9, 9, 9)))
    bmp[22:26] = struct.pack("<i", -7)
    assert _decode_bmp(bytes(bmp))[:2] == (5, 7)

    with pytest.raises(ValueError):
        _decode_bmp(b"\x89PNG not a bmp")
    with pytest.raises(ValueError):  # truncated pixel array
        _decode_bmp(make_bmp(8, 8, (1, 2, 3))[:-5])


def test_gif_lzw_roundtrip_and_reset():
    """The GIF LZW pair round-trips arbitrary index streams, including
    one long enough to force the 4096-entry table reset, and the
    decoder survives a stream that ends without an explicit EOI."""
    random.seed(7)
    for n in (0, 1, 10, 300, 30000):  # 30000 4-symbol pixels -> reset
        idx = bytes(random.randrange(4) for _ in range(n))
        assert _lzw_decode(_lzw_encode(idx, 2), 2) == idx
    idx = bytes(random.randrange(256) for _ in range(20000))
    assert _lzw_decode(_lzw_encode(idx, 8), 8) == idx
    # truncated stream: drop the final byte (loses the EOI) — every
    # fully-received pixel must still decode
    enc = _lzw_encode(bytes([0, 1, 2, 3] * 4), 2)
    assert _lzw_decode(enc[:-1], 2)[:12] == bytes([0, 1, 2, 3] * 3)


def test_gif_codec_roundtrip_and_public_fixture():
    """make_gif emits a standards-valid GIF89a that _decode_gif reads
    back exactly; the decoder also handles the canonical public 1x1
    'transparent pixel' GIF (GCE extension block + truncated EOI) —
    a byte stream produced by a REAL third-party GIF writer, so the
    encoder and decoder cannot share a hidden misunderstanding."""
    for i in (0, 1, 5, 17, 254):
        w, h, base = 5 + i % 11, 4 + i % 7, i % 4
        expect = _gif_index_sum(w, h, base)
        assert _decode_gif(make_gif(w, h, base)) == (w, h, 4, w * h, expect)

    tiny = base64.b64decode(
        "R0lGODlhAQABAIAAAAAAAP///yH5BAEAAAAALAAAAAABAAEAAAIBRAA7"
    )
    assert _decode_gif(tiny) == (1, 1, 2, 1, 0)

    with pytest.raises(ValueError):
        _decode_gif(b"BM not a gif")
    # interlaced flag set -> loud refusal, not silent wrong pixels
    g = bytearray(make_gif(5, 4, 0))
    g[13 + 12 + 1 + 8] |= 0x40  # 0x2C separator + 8 coord/dim bytes
    with pytest.raises(ValueError, match="interlaced"):
        _decode_gif(bytes(g))


# ---------------------------------------------------------------------------
# distributed decode, once per codec
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("fmt", list(CODECS))
def test_decode_stats_distributed(spark, fmt):
    """The real codec path through mapInPandas: every decoded statistic
    equals the closed-form plant for every synthetic payload."""
    got = {
        r["media_id"]: r.asDict()
        for r in decode_stats(synthetic_media(spark, 50, fmt), fmt).collect()
    }
    assert sorted(got) == list(range(50))
    for i, r in got.items():
        want = PLANTED_STATS[fmt](i)
        # every statistic column is checked, not only a chosen few
        assert set(r) - {"media_id", "byte_len"} <= set(want)
        assert {k: r[k] for k in want} == want, i


@pytest.mark.parametrize("fmt", list(CODECS))
def test_decode_media_real_recognizes(spark, fmt):
    """decode_fn='real' routes each supported format to its stdlib
    decoder (header dims, not the fake hash-derived ones)."""
    rows = decode_media(synthetic_media(spark, 10, fmt), decode_fn="real").collect()
    assert sorted(r["media_id"] for r in rows) == list(range(10))
    for r in rows:
        got = (r["width"], r["height"], r["duration_ms"], r["n_frames"])
        assert got == PLANTED_DIMS[fmt](r["media_id"])


def test_decode_media_real_rejects_others(spark):
    """decode_fn='real' fails loudly on a format it cannot decode."""
    jpeg_like = spark.createDataFrame(
        [(1, "image", bytearray(b"\xff\xd8\xff\xe0 not png"), "image/jpeg", "u")],
        "media_id long, kind string, payload binary, mime string, source_url string",
    )
    with pytest.raises(Exception, match="pure stdlib"):
        decode_media(jpeg_like, decode_fn="real").collect()
