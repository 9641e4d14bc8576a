"""Round-5 hardening: pins for the round-4 ADVICE fixes.

- the curate CLI's --encode-vocab stage must survive input parquet that
  already carries ``n_tokens``/``ids`` columns (duplicate-name join);
- the bench's ``encode_tokens`` query must reserve token id 0 for OOV
  (same % 999999 + 1 mapping as the CLI).
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]


def test_encode_tokens_query_reserves_oov_zero(spark):
    """Every id the bench query emits for an IN-VOCAB token is >= 1:
    id 0 is the OOV sentinel and must never collide with a real token
    (round-4 ADVICE — the query used % 1000000, which could assign a
    real token id 0; now % 999999 + 1, same mapping as the CLI)."""
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    df = entrymod.queries()["encode_tokens"](spark, "/root/testdata/sf0.001")
    ids = (
        df.select(F.explode(F.split("ids_csv", ",")).alias("id"))
        .filter(F.col("id") != "")
        .select(F.col("id").cast("long").alias("id"))
    )
    lo, hi = ids.agg(F.min("id"), F.max("id")).first()
    # in-vocab ids live in [1, 999999]; 0 appears only if OOV exists
    assert 0 <= lo and hi <= 999999
    # the old % 1000000 mapping assigns token id 0 to any token whose
    # md5[:8] is a multiple of 1e6; prove the NEW mapping never can:
    # the minimum nonzero id must be achievable only at >= 1, and
    # exhaustively, no in-vocab token maps to 0 under the new formula
    from dandi_s3_log_parser_spark.operators.dedup import word_tokens

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    vocab_ids = (
        docs.select(F.explode(word_tokens(F.col("text"))).alias("w"))
        .distinct()
        .select(
            (
                F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long")
                % 999999 + 1
            ).alias("tid")
        )
    )
    vlo, vhi = vocab_ids.agg(F.min("tid"), F.max("tid")).first()
    assert vlo >= 1 and vhi <= 999999


def test_bmp_codec_roundtrip_pure_python():
    """make_bmp emits a standards-valid 24-bit BMP and _decode_bmp reads
    back the exact planted dims and padding-excluded pixel statistics —
    widths are chosen so row padding spans 0..3 bytes."""
    import struct

    from dandi_s3_log_parser_spark.operators.multimodal import (
        _decode_bmp,
        make_bmp,
    )

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


def test_decode_bmp_stats_distributed(spark):
    """The real BMP codec path through mapInPandas: decoded stats equal
    the closed-form plant for every synthetic payload."""
    from dandi_s3_log_parser_spark.operators.multimodal import (
        decode_stats,
        synthetic_media,
    )

    got = {
        r["media_id"]: r
        for r in decode_stats(synthetic_media(spark, 50, "bmp"), "bmp").collect()
    }
    assert len(got) == 50
    for i, r in got.items():
        w, h = 4 + i % 9, 3 + i % 7
        stride = (3 * w + 3) // 4 * 4
        colorsum = (i % 256) + (i * 11 % 256) + (i * 29 % 256)
        assert (r["width"], r["height"], r["row_stride"]) == (w, h, stride)
        assert r["pixel_bytes"] == stride * h
        assert r["pixel_byte_sum"] == w * h * colorsum
        assert r["byte_len"] == 54 + stride * h


def test_decode_media_real_recognizes_bmp(spark):
    """decode_media's 'real' boundary now routes BMP payloads to the
    stdlib decoder instead of NotImplementedError."""
    from dandi_s3_log_parser_spark.operators.multimodal import (
        decode_media,
        synthetic_media,
    )

    rows = decode_media(
        synthetic_media(spark, 10, "bmp"), decode_fn="real"
    ).collect()
    assert len(rows) == 10
    for r in rows:
        i = r["media_id"]
        assert (r["width"], r["height"]) == (4 + i % 9, 3 + i % 7)
        assert r["n_frames"] == 1 and r["duration_ms"] == 0


@pytest.mark.slow
def test_curate_cli_encode_vocab_with_preexisting_token_columns(tmp_path):
    """Input documents that ALREADY carry n_tokens/ids columns (e.g. a
    re-curation of previously encoded output) used to produce duplicate
    column names at the encode join and fail the parquet write
    (round-4 ADVICE); now the stale columns are dropped and replaced."""
    import duckdb

    src = tmp_path / "docs_with_stale_cols.parquet"
    duckdb.sql(
        "COPY (SELECT *, 7::BIGINT AS n_tokens, [1,2,3]::BIGINT[] AS ids "
        "FROM '/root/testdata/sf0.001/documents.parquet') "
        f"TO '{src}' (FORMAT PARQUET)"
    )
    out = tmp_path / "curated"
    r = subprocess.run(
        [
            sys.executable, "-m", "dandi_s3_log_parser_spark.cli",
            "--local-cores", "4",
            "curate",
            "--documents", str(src),
            "--out", str(out),
            "--min-chars", "0",
            "--encode-vocab", "20",
        ],
        cwd=REPO, capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    rows = duckdb.sql(
        f"SELECT n_tokens, len(ids) FROM read_parquet('{out}/*.parquet')"
    ).fetchall()
    assert len(rows) == 500
    # the stale constant columns were REPLACED by real encodings
    assert any(n != 7 for n, _ in rows)
    for n_tokens, l in rows:
        assert n_tokens == l


def test_gif_lzw_roundtrip_and_reset():
    """The GIF LZW pair round-trips arbitrary index streams, including
    one long enough to force the 4096-entry table reset, and the
    decoder survives a stream that ends without an explicit EOI."""
    import random

    from dandi_s3_log_parser_spark.operators.multimodal import (
        _lzw_decode,
        _lzw_encode,
    )

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
    import base64

    import pytest

    from dandi_s3_log_parser_spark.operators.multimodal import (
        _decode_gif,
        make_gif,
    )

    for i in (0, 1, 5, 17, 254):
        w, h, base = 5 + i % 11, 4 + i % 7, i % 4
        expect = sum((base + x + y) % 4 for y in range(h) for x in range(w))
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


def test_decode_gif_stats_distributed(spark):
    """The real GIF codec path through mapInPandas: LZW-decoded stats
    equal the planted arithmetic for every synthetic payload."""
    from dandi_s3_log_parser_spark.operators.multimodal import (
        decode_stats,
        synthetic_media,
    )

    got = {
        r["media_id"]: r
        for r in decode_stats(synthetic_media(spark, 50, "gif"), "gif").collect()
    }
    assert len(got) == 50
    for i, r in got.items():
        w, h, base = 5 + i % 11, 4 + i % 7, i % 4
        expect = sum((base + x + y) % 4 for y in range(h) for x in range(w))
        assert (r["width"], r["height"], r["n_colors"]) == (w, h, 4)
        assert r["n_pixels"] == w * h
        assert r["index_sum"] == expect


def test_decode_media_real_recognizes_gif(spark):
    from dandi_s3_log_parser_spark.operators.multimodal import (
        decode_media,
        synthetic_media,
    )

    rows = decode_media(
        synthetic_media(spark, 10, "gif"), decode_fn="real"
    ).collect()
    assert len(rows) == 10
    for r in rows:
        i = r["media_id"]
        assert (r["width"], r["height"]) == (5 + i % 11, 4 + i % 7)
        assert r["n_frames"] == 1 and r["duration_ms"] == 0
