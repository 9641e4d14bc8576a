"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns with typed metadata; the
decode/feature kernels run as Arrow-batched ``mapInPandas`` operators so
the Spark-side contract (schema, batch shape, partitioning) is real and
tested without any codec library installed.

Real formats: :data:`CODECS` holds one entry per pure-stdlib codec —
**PNG** (IHDR header + zlib-inflated IDAT, :func:`_decode_png`), **WAV**
(PCM-16 RIFF chunks, :func:`_decode_wav`), **BMP** (24-bit uncompressed,
padded bottom-up rows, :func:`_decode_bmp`) and **GIF** (variable-width
LZW per GIF89a Appendix F, :func:`_decode_gif`).  One generator,
:func:`synthetic_media`, plants payloads of any of them, and one
decoder, :func:`decode_stats`, emits their statistics.

STUB BOUNDARY: :func:`decode_media` with ``decode_fn='real'`` dispatches
on the table's magic-byte checks and raises ``NotImplementedError`` for
every other format — plug Pillow/torchaudio/ffmpeg there on a real
cluster.  The default ``decode_fn='fake'`` is a deterministic stand-in
(dimensions/duration derived from a stable hash of the payload) so the
distributed plumbing is exercised end-to-end on arbitrary bytes.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Callable, Iterator
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("mime", T.StringType(), True),
        T.StructField("source_url", T.StringType(), True),
    ]
)

DECODED_SCHEMA = (
    "media_id long, kind string, byte_len long, sha256 string, "
    "width int, height int, duration_ms long, n_frames int"
)


PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def make_png(width: int, height: int, gray: int) -> bytes:
    """Minimal valid 8-bit grayscale PNG (pure stdlib) — constant pixel
    value ``gray``, filter type 0 per scanline.  Used by tests and the
    synthetic media generator; any standards-compliant decoder reads it.
    """

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = (b"\x00" + bytes([gray]) * width) * height
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _decode_png(payload: bytes) -> tuple[int, int, int, int]:
    """Real pure-stdlib PNG decode: ``(width, height, inflated_len,
    idat_byte_sum)``.

    Walks the chunk stream (length + type + data + crc), reads the
    dimensions from IHDR, concatenates every IDAT chunk and zlib-
    inflates it; the inflated length and byte sum are the deterministic
    content statistics the DuckDB oracle recomputes in closed form for
    planted images.  Raises ``ValueError`` on a non-PNG payload.
    """
    if payload[:8] != PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos, width, height = 8, None, None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            width, height = struct.unpack(">II", data[:8])
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + data + crc32
    if width is None:
        raise ValueError("PNG without IHDR")
    raw = zlib.decompress(bytes(idat))
    byte_sum = int(np.frombuffer(raw, dtype=np.uint8).sum(dtype=np.int64))
    return width, height, len(raw), byte_sum


WAV_MAGIC = b"RIFF"


def make_wav(
    sample_rate: int, channels: int, n_samples: int, amplitude: int
) -> bytes:
    """Minimal valid 16-bit PCM WAV (pure stdlib) — every sample holds
    the constant ``amplitude`` (0..32767), so content statistics are
    closed-form for the oracle.  Standards-valid RIFF/WAVE layout:
    fmt chunk (PCM) + data chunk.
    """
    frame = struct.pack("<h", amplitude) * channels
    data = frame * n_samples
    byte_rate = sample_rate * channels * 2
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate, byte_rate,
                      channels * 2, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return WAV_MAGIC + struct.pack("<I", len(body)) + body


def _decode_wav(payload: bytes) -> tuple[int, int, int, int, int]:
    """Real pure-stdlib WAV decode: ``(sample_rate, channels,
    n_samples, duration_ms, data_lo_byte_sum)``.

    Walks the RIFF chunk stream (fmt for the format header, data for
    the sample payload); duration is derived from the data chunk size
    and the format, exactly what a standards decoder reports; the
    low-byte sum over the data chunk is the deterministic content
    statistic the oracle recomputes in closed form for planted audio.
    Raises ``ValueError`` on non-WAV bytes or non-PCM-16 content.
    """
    if payload[:4] != WAV_MAGIC or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    rate = channels = bits = None
    data = None
    while pos + 8 <= len(payload):
        ctype = payload[pos : pos + 4]
        (length,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        if ctype == b"fmt ":
            _, channels, rate, _, _, bits = struct.unpack(
                "<HHIIHH", payload[pos + 8 : pos + 24]
            )
        elif ctype == b"data":
            data = payload[pos + 8 : pos + 8 + length]
        pos += 8 + length + (length & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("WAV without fmt/data chunk")
    if bits != 16:
        raise ValueError(f"only PCM-16 supported, got {bits}-bit")
    n_samples = len(data) // (channels * 2)
    lo_sum = int(np.frombuffer(data, dtype=np.uint8)[::2].sum(dtype=np.int64))
    return rate, channels, n_samples, n_samples * 1000 // rate, lo_sum


BMP_MAGIC = b"BM"


def make_bmp(width: int, height: int, bgr: tuple[int, int, int]) -> bytes:
    """Minimal valid 24-bit uncompressed BMP (pure stdlib) — constant
    pixel color ``bgr``, bottom-up rows padded to 4-byte boundaries per
    the BITMAPINFOHEADER spec.  Standards-valid: 14-byte file header +
    40-byte info header + pixel array."""
    stride = (3 * width + 3) // 4 * 4
    row = bytes(bgr) * width + b"\x00" * (stride - 3 * width)
    data = row * height
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(data),
        2835, 2835, 0, 0,
    )
    file_header = struct.pack(
        "<2sIHHI", BMP_MAGIC, 14 + 40 + len(data), 0, 0, 14 + 40
    )
    return file_header + info + data


def _decode_bmp(payload: bytes) -> tuple[int, int, int, int, int]:
    """Real pure-stdlib BMP decode: ``(width, height, row_stride,
    pixel_bytes, pixel_byte_sum)``.

    Reads the file header for the pixel-array offset, the info header
    for dimensions/bpp/compression, then walks the padded bottom-up
    pixel rows; the byte sum EXCLUDES row padding (reshape by stride,
    slice to 3*width), so a padding-handling bug cannot self-confirm
    against the closed-form oracle.  Raises ``ValueError`` on non-BMP
    bytes or unsupported (non-24-bit / compressed) content.
    """
    if payload[:2] != BMP_MAGIC:
        raise ValueError("not a BMP payload")
    (pixel_offset,) = struct.unpack("<I", payload[10:14])
    header_size, width, height, _, bpp, compression = struct.unpack(
        "<IiiHHI", payload[14:34]
    )
    if header_size < 40:
        raise ValueError(f"unsupported BMP header size {header_size}")
    if bpp != 24 or compression != 0:
        raise ValueError(
            f"only uncompressed 24-bit BMP supported, got {bpp}-bit "
            f"compression={compression}"
        )
    if height < 0:  # top-down variant: same bytes, negated height field
        height = -height
    stride = (3 * width + 3) // 4 * 4
    data = payload[pixel_offset : pixel_offset + stride * height]
    if len(data) != stride * height:
        raise ValueError("BMP pixel array truncated")
    rows = np.frombuffer(data, dtype=np.uint8).reshape(height, stride)
    pixel_sum = int(rows[:, : 3 * width].sum(dtype=np.int64))
    return width, height, stride, stride * height, pixel_sum


GIF_MAGICS = (b"GIF87a", b"GIF89a")


def _lzw_encode(indices: bytes, mcs: int) -> bytes:
    """GIF-flavor LZW compress (variable-width codes, LSB-first bit
    packing, leading CLEAR, trailing EOI, code width grows when the
    next free code would not fit, table reset at 4096) — the image
    data layout of GIF89a Appendix F.  Pure stdlib."""
    clear = 1 << mcs
    eoi = clear + 1
    code_size = mcs + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    out = bytearray()
    bitbuf = 0
    nbits = 0

    def emit(code: int) -> None:
        nonlocal bitbuf, nbits
        bitbuf |= code << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(bitbuf & 0xFF)
            bitbuf >>= 8
            nbits -= 8

    emit(clear)
    w = b""
    for b in indices:
        wk = w + bytes([b])
        if wk in table:
            w = wk
            continue
        emit(table[w])
        if next_code < 4096:
            table[wk] = next_code
            next_code += 1
            # the decoder bumps its read width when ITS next free code
            # reaches 2^size; the encoder sits one table entry ahead,
            # so its bump condition is one later
            if next_code == (1 << code_size) + 1 and code_size < 12:
                code_size += 1
        else:
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            code_size = mcs + 1
        w = bytes([b])
    if w:
        emit(table[w])
    emit(eoi)
    if nbits:
        out.append(bitbuf & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, mcs: int) -> bytes:
    """GIF-flavor LZW decompress — exact inverse of :func:`_lzw_encode`
    and of every conformant GIF writer: handles mid-stream CLEAR,
    the KwKwK case (code == next free), the 12-bit table cap, and a
    stream that ends without an explicit EOI (ubiquitous in the wild;
    the canonical 1x1 'transparent pixel' GIF does this)."""
    clear = 1 << mcs
    eoi = clear + 1
    code_size = mcs + 1
    big = int.from_bytes(data, "little")
    total_bits = len(data) * 8
    pos = 0
    roots = [bytes([i]) for i in range(clear)]
    table = roots + [b"", b""]  # CLEAR/EOI placeholders keep len == next code
    prev: bytes | None = None
    out = bytearray()
    while pos + code_size <= total_bits:
        code = (big >> pos) & ((1 << code_size) - 1)
        pos += code_size
        if code == clear:
            table = roots + [b"", b""]
            code_size = mcs + 1
            prev = None
            continue
        if code == eoi:
            break
        if code < len(table) and (code < clear or prev is not None):
            entry = table[code]
            if prev is not None and len(table) < 4096:
                table.append(prev + entry[:1])
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
            if len(table) < 4096:
                table.append(entry)
        else:
            raise ValueError(f"corrupt LZW stream: code {code}")
        out += entry
        prev = entry
        if len(table) == (1 << code_size) and code_size < 12:
            code_size += 1
    return bytes(out)


def make_gif(width: int, height: int, base_index: int) -> bytes:
    """Minimal standards-valid GIF89a (pure stdlib) — 4-entry global
    color table, one non-interlaced image whose pixel INDEX at (x, y)
    is ``(base_index + x + y) % 4`` (a diagonal gradient: exercises
    real LZW dictionary growth, unlike a constant image), LZW-encoded
    per the spec with proper 255-byte sub-block framing."""
    indices = bytes(
        (base_index + x + y) % 4
        for y in range(height)
        for x in range(width)
    )
    lzw = _lzw_encode(indices, 2)
    blocks = b"".join(
        bytes([len(lzw[i : i + 255])]) + lzw[i : i + 255]
        for i in range(0, len(lzw), 255)
    )
    gct = b"".join(
        bytes(((j * 85) % 256, (255 - j * 85) % 256, (j * 40) % 256))
        for j in range(4)
    )
    return (
        GIF_MAGICS[1]
        + struct.pack("<HH", width, height)
        + bytes([0x80 | 0x01])  # GCT present, 2^(1+1)=4 entries
        + b"\x00\x00"  # background index, aspect ratio
        + gct
        + b"\x2c"
        + struct.pack("<HHHH", 0, 0, width, height)
        + b"\x00"  # no local table, not interlaced
        + bytes([2])  # LZW minimum code size
        + blocks
        + b"\x00"  # sub-block terminator
        + b"\x3b"
    )


def _decode_gif(payload: bytes) -> tuple[int, int, int, int, int]:
    """Real pure-stdlib GIF decode: ``(width, height, gct_entries,
    n_pixels, index_sum)`` for the FIRST image frame.

    Walks the logical screen descriptor and global color table, skips
    extension blocks (graphic control, comments, application), then
    LZW-decompresses the first image's index stream and sums the
    palette indices — a statistic the planted-arithmetic oracle
    recomputes without any GIF parsing, so a decoder bug cannot
    self-confirm.  Raises ``ValueError`` on non-GIF bytes, interlaced
    images, or a pixel-count mismatch against the image descriptor.
    """
    if payload[:6] not in GIF_MAGICS:
        raise ValueError("not a GIF payload")
    width, height = struct.unpack("<HH", payload[6:10])
    packed = payload[10]
    pos = 13
    gct_n = 0
    if packed & 0x80:
        gct_n = 2 << (packed & 0x07)
        pos += 3 * gct_n
    while pos < len(payload):
        block = payload[pos]
        pos += 1
        if block == 0x3B:  # trailer
            raise ValueError("GIF has no image data")
        if block == 0x21:  # extension: label + sub-blocks
            pos += 1
            while payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
        _, _, iw, ih = struct.unpack("<HHHH", payload[pos : pos + 8])
        ipacked = payload[pos + 8]
        pos += 9
        if ipacked & 0x40:
            raise ValueError("interlaced GIF not supported")
        if ipacked & 0x80:  # local color table
            pos += 3 * (2 << (ipacked & 0x07))
        mcs = payload[pos]
        pos += 1
        chunks = bytearray()
        while payload[pos]:
            n = payload[pos]
            chunks += payload[pos + 1 : pos + 1 + n]
            pos += 1 + n
        indices = _lzw_decode(bytes(chunks), mcs)
        if len(indices) < iw * ih:
            raise ValueError(
                f"LZW underrun: {len(indices)} of {iw * ih} pixels"
            )
        indices = indices[: iw * ih]  # tolerate padding past the frame
        return width, height, gct_n, iw * ih, sum(indices)
    raise ValueError("truncated GIF")


def _fake_decode(payload: bytes, kind: str) -> tuple[int, int, int, int]:
    """Deterministic fake decode: stable pseudo-dimensions from content."""
    h = hashlib.sha256(payload).digest()
    width = 64 + h[0] * 4
    height = 64 + h[1] * 4
    duration_ms = int.from_bytes(h[2:4], "big") if kind in ("audio", "video") else 0
    n_frames = 1 if kind == "image" else 1 + h[4]
    return width, height, duration_ms, n_frames


def decode_media(media: DataFrame, *, decode_fn: str = "fake") -> DataFrame:
    """Decode/inspect media payloads via ``mapInPandas`` (Arrow batches).

    Batch-shaped: each pandas chunk is processed with numpy/hashlib only;
    no row-at-a-time Spark serialization.
    """
    if decode_fn not in ("fake", "real"):
        raise ValueError("decode_fn must be 'fake' or 'real'")

    use_real = decode_fn == "real"

    def _real_decode(payload: bytes, kind: str) -> tuple[int, int, int, int]:
        for codec in CODECS.values():
            if codec.is_format(payload):
                return codec.dims(codec.decode(payload))
        raise NotImplementedError(
            "real decoding is implemented in pure stdlib for PNG, BMP, "
            "GIF and PCM-16 WAV only; other formats (JPEG, compressed "
            "audio/video) require codec libraries (Pillow/ffmpeg) that "
            "are not installed — use decode_fn='fake' for those"
        )

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decode = _real_decode if use_real else _fake_decode
            dims = [decode(p, k) for p, k in zip(pdf["payload"], pdf["kind"])]
            arr = np.array(dims, dtype=np.int64).reshape(len(pdf), 4)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "byte_len": pdf["payload"].str.len(),
                    "sha256": [hashlib.sha256(p).hexdigest() for p in pdf["payload"]],
                    "width": arr[:, 0].astype("int32"),
                    "height": arr[:, 1].astype("int32"),
                    "duration_ms": arr[:, 2],
                    "n_frames": arr[:, 3].astype("int32"),
                }
            )

    return media.mapInPandas(decode_batches, schema=DECODED_SCHEMA)


class Codec(NamedTuple):
    """One real (pure-stdlib) media format: how to plant a payload, how
    to recognise and decode one, and the decoded statistics' columns."""

    kind: str
    mime: str
    # media_id -> standards-valid payload whose every decoded statistic
    # is a closed-form function of media_id, so an independent engine
    # can recompute it without parsing the format
    make: Callable[[int], bytes]
    is_format: Callable[[bytes], bool]
    # payload -> statistics, in the order of ``stats``
    decode: Callable[[bytes], tuple]
    # DDL of the statistics columns (after ``media_id, byte_len``)
    stats: str
    # statistics -> decode_media's (width, height, duration_ms, n_frames)
    dims: Callable[[tuple], tuple[int, int, int, int]]


def _image_dims(st: tuple) -> tuple[int, int, int, int]:
    return st[0], st[1], 0, 1


CODECS: dict[str, Codec] = {
    # width 8 + id % 13, height 8 + id % 11, constant gray (id * 37) % 256:
    # inflated_len = height * (width + 1) (a filter byte per scanline),
    # idat_byte_sum = height * width * gray
    "png": Codec(
        "image",
        "image/png",
        lambda i: make_png(8 + i % 13, 8 + i % 11, (i * 37) % 256),
        lambda p: p[:8] == PNG_MAGIC,
        _decode_png,
        "width int, height int, inflated_len long, idat_byte_sum long",
        _image_dims,
    ),
    # sample_rate 8000 * (1 + id % 3), channels 1 + id % 2, n_samples
    # 100 + id % 50, constant amplitude id % 128 (high byte 0):
    # data_byte_sum = n_samples * channels * amplitude,
    # duration_ms = n_samples * 1000 // sample_rate
    "wav": Codec(
        "audio",
        "audio/wav",
        lambda i: make_wav(8000 * (1 + i % 3), 1 + i % 2, 100 + i % 50, i % 128),
        lambda p: p[:4] == WAV_MAGIC and p[8:12] == b"WAVE",
        _decode_wav,
        "sample_rate int, channels int, n_samples long, duration_ms long, "
        "data_byte_sum long",
        lambda st: (0, 0, st[3], st[2]),
    ),
    # width 4 + id % 9 (row padding varies with width), height 3 + id % 7,
    # constant BGR (id % 256, (id * 11) % 256, (id * 29) % 256):
    # row_stride = (3 * width + 3) // 4 * 4, pixel_bytes = row_stride *
    # height, and (padding is zeros) pixel_byte_sum = width * height *
    # (b + g + r)
    "bmp": Codec(
        "image",
        "image/bmp",
        lambda i: make_bmp(4 + i % 9, 3 + i % 7, (i % 256, (i * 11) % 256, (i * 29) % 256)),
        lambda p: p[:2] == BMP_MAGIC,
        _decode_bmp,
        "width int, height int, row_stride int, pixel_bytes long, pixel_byte_sum long",
        _image_dims,
    ),
    # width 5 + id % 11, height 4 + id % 7, pixel index at (x, y) =
    # (id % 4 + x + y) % 4: index_sum is the double sum over the x/y
    # grid, n_pixels = width * height, n_colors is the 4-entry table
    "gif": Codec(
        "image",
        "image/gif",
        lambda i: make_gif(5 + i % 11, 4 + i % 7, i % 4),
        lambda p: p[:6] in GIF_MAGICS,
        _decode_gif,
        "width int, height int, n_colors int, n_pixels long, index_sum long",
        _image_dims,
    ),
}


def synthetic_media(spark, n: int, fmt: str) -> DataFrame:
    """Distributed generator of ``n`` REAL (standards-valid) payloads of
    format ``fmt`` (a :data:`CODECS` key) with ``media_id`` 0..n-1 and
    every decoded statistic planted in closed form (see the table)."""
    codec = CODECS[fmt]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "kind": codec.kind,
                    "payload": [codec.make(int(i)) for i in ids],
                    "mime": codec.mime,
                    "source_url": [f"synthetic://{fmt}/{i}" for i in ids],
                }
            )

    return spark.range(n).mapInPandas(gen, schema=MEDIA_SCHEMA)


def decode_stats(media: DataFrame, fmt: str) -> DataFrame:
    """Real decode of every payload as format ``fmt`` (Arrow-batched
    mapInPandas): ``media_id, byte_len`` plus the codec's statistics.
    This is the non-stub codec path — it fails loudly on other bytes."""
    codec = CODECS[fmt]
    cols = [c.split() for c in codec.stats.split(", ")]

    def batches_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            stats = [codec.decode(p) for p in pdf["payload"]]
            arr = np.array(stats, dtype=np.int64).reshape(len(pdf), len(cols))
            out = {
                "media_id": pdf["media_id"],
                "byte_len": pdf["payload"].str.len().astype("int64"),
            }
            for j, (name, ddl) in enumerate(cols):
                out[name] = arr[:, j].astype("int32" if ddl == "int" else "int64")
            yield pd.DataFrame(out)

    return media.mapInPandas(
        batches_fn, schema=f"media_id long, byte_len long, {codec.stats}"
    )


def media_from_pages(pages: DataFrame) -> DataFrame:
    """Derive a media table from the pages table (html bytes as payload)
    — exercises binary-column plumbing against the real graft input."""
    return pages.select(
        F.xxhash64("url").alias("media_id"),
        F.lit("image").alias("kind"),
        F.col("html").alias("payload"),
        F.lit("text/html").alias("mime"),
        F.col("url").alias("source_url"),
    )
