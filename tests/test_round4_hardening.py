"""Round-4 hardening: whole-registry physical-plan audit.

An unpartitioned WindowExec is the classic silent scale killer — every
row funnels through ONE task regardless of cluster size.  Round 3's
only offender was ``curation_funnel``'s report windows (benign but
noisy: they spammed "No Partition Defined for Window operation" over
every bench run); those are gone (driver-side pass over the rules+1
report rows).  This audit locks the invariant for every registered
query: NO physical plan may contain a Window node with an empty
partition spec — so a future regression shows up as a red test, not as
one warning line lost in log noise.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF_DIR = "/root/testdata/sf0.001"


def _window_nodes(df):
    """(simpleName, partitionSpec-is-empty) for every Window node in
    the physical plan, descending through AQE wrappers."""
    out = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        n = stack.pop()
        name = n.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(n.inputPlan())
        if "Window" in name and hasattr(n, "partitionSpec"):
            out.append((name, n.partitionSpec().isEmpty()))
        ch = n.children()
        for i in range(ch.length()):
            stack.append(ch.apply(i))
    return out


class _FakeReader:
    """spark.read.table(...) stand-in returning a fixed schema."""

    def __init__(self, schema):
        self._schema = schema

    def table(self, ident):
        class _T:
            pass

        t = _T()
        t.schema = self._schema
        return t


class _FakeSparkWithTable:
    def __init__(self, table_schema):
        self.read = _FakeReader(table_schema)
        self.statements = []

    def sql(self, stmt):
        self.statements.append(stmt)


class _WriterRecorder:
    def __init__(self, calls):
        self.calls = calls

    def append(self):
        self.calls.append(("append",))

    def overwritePartitions(self):
        self.calls.append(("overwritePartitions",))


class _FakeDF:
    def __init__(self, calls, schema):
        self.calls = calls
        self.schema = schema

    def writeTo(self, ident):
        self.calls.append(("writeTo", ident))
        return _WriterRecorder(self.calls)


def _evolution_catalog(table_schema):
    from dandi_s3_log_parser_spark.sources.tables import Catalog

    cat = Catalog.__new__(Catalog)
    cat.spark = _FakeSparkWithTable(table_schema)
    cat.iceberg_catalog = "ice"
    cat.exists = lambda name: True
    return cat


def test_iceberg_append_evolves_schema_with_add_columns():
    """A long-lived deployment's first migration: the lineage table
    gains a metric column.  Appending a widened frame must issue ONE
    metadata-only ALTER TABLE ... ADD COLUMNS before the append — and
    never for columns the table already has."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    table_schema = StructType(
        [
            StructField("stage", StringType()),
            StructField("rows_in", LongType()),
        ]
    )
    widened = StructType(
        table_schema.fields + [StructField("bytes_spilled", LongType())]
    )
    calls = []
    cat = _evolution_catalog(table_schema)
    cat.write(_FakeDF(calls, widened), "lineage", mode="append")
    assert cat.spark.statements == [
        "ALTER TABLE ice.db.lineage ADD COLUMNS (bytes_spilled bigint)"
    ]
    assert calls == [("writeTo", "ice.db.lineage"), ("append",)]


def test_iceberg_append_same_schema_issues_no_alter():
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [StructField("stage", StringType()), StructField("rows_in", LongType())]
    )
    calls = []
    cat = _evolution_catalog(schema)
    cat.write(_FakeDF(calls, schema), "lineage", mode="append")
    assert cat.spark.statements == []
    assert calls == [("writeTo", "ice.db.lineage"), ("append",)]


def test_png_codec_roundtrip_pure_python():
    """make_png emits a standards-valid PNG and _decode_png reads back
    the exact planted header dims and content statistics."""
    from dandi_s3_log_parser_spark.operators.multimodal import (
        _decode_png,
        make_png,
    )

    for w, h, g in ((8, 8, 0), (20, 18, 255), (13, 11, 97)):
        png = make_png(w, h, g)
        width, height, inflated_len, byte_sum = _decode_png(png)
        assert (width, height) == (w, h)
        assert inflated_len == h * (w + 1)  # filter byte per scanline
        assert byte_sum == w * h * g

    with pytest.raises(ValueError):
        _decode_png(b"GIF89a not a png")


def test_decode_png_stats_distributed(spark):
    """The real codec path through mapInPandas: decoded stats equal the
    closed-form plant for every synthetic payload."""
    from dandi_s3_log_parser_spark.operators.multimodal import (
        decode_stats,
        synthetic_media,
    )

    got = {
        r["media_id"]: r
        for r in decode_stats(synthetic_media(spark, 50, "png"), "png").collect()
    }
    assert len(got) == 50
    for i, r in got.items():
        w, h, g = 8 + i % 13, 8 + i % 11, (i * 37) % 256
        assert (r["width"], r["height"]) == (w, h)
        assert r["inflated_len"] == h * (w + 1)
        assert r["idat_byte_sum"] == w * h * g


def test_wav_codec_roundtrip_pure_python():
    """make_wav emits a standards-valid PCM-16 RIFF/WAVE and _decode_wav
    reads back the exact planted format and content statistics."""
    from dandi_s3_log_parser_spark.operators.multimodal import (
        _decode_wav,
        make_wav,
    )

    for rate, ch, n, amp in ((8000, 1, 100, 0), (24000, 2, 149, 127),
                             (16000, 2, 113, 64)):
        wav = make_wav(rate, ch, n, amp)
        got = _decode_wav(wav)
        assert got == (rate, ch, n, n * 1000 // rate, n * ch * amp)

    # stdlib wave module cross-checks ours against an independent,
    # standards-compliant reader
    import io
    import wave

    w = wave.open(io.BytesIO(make_wav(16000, 2, 113, 64)))
    assert (w.getframerate(), w.getnchannels(), w.getnframes(),
            w.getsampwidth()) == (16000, 2, 113, 2)

    with pytest.raises(ValueError):
        _decode_wav(b"OggS not a wav")


def test_decode_wav_stats_distributed(spark):
    from dandi_s3_log_parser_spark.operators.multimodal import (
        decode_stats,
        synthetic_media,
    )

    got = {
        r["media_id"]: r
        for r in decode_stats(synthetic_media(spark, 40, "wav"), "wav").collect()
    }
    assert len(got) == 40
    for i, r in got.items():
        rate, ch, n, amp = 8000 * (1 + i % 3), 1 + i % 2, 100 + i % 50, i % 128
        assert (r["sample_rate"], r["channels"], r["n_samples"]) == (rate, ch, n)
        assert r["duration_ms"] == n * 1000 // rate
        assert r["data_byte_sum"] == n * ch * amp


def test_decode_media_real_handles_png_and_rejects_others(spark):
    """decode_fn='real' genuinely decodes PNG (header dims, not the
    fake hash-derived ones) and still fails loudly on other formats."""
    from dandi_s3_log_parser_spark.operators.multimodal import (
        decode_media,
        make_png,
        synthetic_media,
    )

    png_rows = decode_media(
        synthetic_media(spark, 5, "png"), decode_fn="real"
    ).collect()
    assert {(r["width"], r["height"]) for r in png_rows} == {
        (8 + i % 13, 8 + i % 11) for i in range(5)
    }

    wav_rows = decode_media(
        synthetic_media(spark, 4, "wav"), decode_fn="real"
    ).collect()
    assert {r["n_frames"] for r in wav_rows} == {100 + i % 50 for i in range(4)}

    jpeg_like = spark.createDataFrame(
        [(1, "image", bytearray(b"\xff\xd8\xff\xe0 not png"), "image/jpeg", "u")],
        "media_id long, kind string, payload binary, mime string, source_url string",
    )
    with pytest.raises(Exception, match="pure stdlib"):
        decode_media(jpeg_like, decode_fn="real").collect()


def test_per_key_cap_keeps_topk_per_key(spark):
    """The cap keeps exactly the top-k rows per key under the total
    order, including a hot key with far more rows than the cap."""
    from pyspark.sql import functions as F

    from dandi_s3_log_parser_spark.operators.curation import per_key_cap

    rows = [(i, "hot" if i % 5 else f"cold{i}", (i * 13) % 97) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    order = [F.desc("n_chars"), F.asc("doc_id")]
    got = {
        tuple(r)
        for r in per_key_cap(df, "source", k=3, order_by=order).select(
            "doc_id", "source"
        ).collect()
    }
    hot = sorted(
        ((i, (i * 13) % 97) for i in range(200) if i % 5),
        key=lambda t: (-t[1], t[0]),
    )[:3]
    assert {(i, "hot") for i, _ in hot} <= got
    assert sum(1 for _, s in got if s == "hot") == 3
    assert sum(1 for _, s in got if s.startswith("cold")) == 40  # 1 each


def test_per_key_cap_plan_has_partial_group_limit(spark):
    """The scale property per_key_cap relies on: Spark's
    WindowGroupLimit rewrite must put a PARTIAL per-key top-k below the
    exchange, so a hot key ships <= k rows per input partition through
    the shuffle rather than its full row count."""
    from pyspark.sql import functions as F

    from dandi_s3_log_parser_spark.operators.curation import per_key_cap

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).cast("string").alias("source"),
        (F.col("id") * 13 % 97).alias("n_chars"),
    )
    plan = (
        per_key_cap(
            df, "source", k=5, order_by=[F.desc("n_chars"), F.asc("doc_id")]
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    partial = plan.find("WindowGroupLimit")
    assert partial != -1 and "Partial" in plan
    # the Partial limit must sit BELOW the source-hash exchange
    assert "Exchange hashpartitioning(source" in plan
    assert plan.find("Partial") > plan.find("Exchange hashpartitioning(source")


def test_oov_rate_empty_and_null_text(spark):
    """Degenerate docs: empty text has zero tokens (oov_rate pinned at
    1.0 by the greatest(n,1) guard — 'nothing in vocabulary'), and the
    operator must not throw on them."""
    from dandi_s3_log_parser_spark.operators.curation import oov_rate

    df = spark.createDataFrame(
        [(1, "a a b"), (2, ""), (3, "   ")], "doc_id long, text string"
    )
    got = {r["doc_id"]: (r["n_tokens"], r["oov_rate"]) for r in
           oov_rate(df, vocab_k=10).collect()}
    assert got[1] == (3, 0.0)
    assert got[2] == (0, 1.0)
    assert got[3] == (0, 1.0)


def test_oov_rate_vocab_join_is_broadcast(spark):
    """The vocabulary membership probe must be a broadcast join — a
    shuffled join here would re-exchange the full token explosion."""
    from dandi_s3_log_parser_spark.operators.curation import oov_rate

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b c zz")], "doc_id long, text string"
    )
    out = oov_rate(df, vocab_k=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    got = {r["doc_id"]: r["oov_rate"] for r in out.collect()}
    # vocab (count desc, tok asc) = {a:2, b:2} -> doc1 all in-vocab,
    # doc2 has 2 of 3 occurrences out of vocab (c, zz)
    assert got[1] == 0.0
    assert abs(got[2] - 2 / 3) < 1e-6


@pytest.mark.slow
def test_no_query_plan_has_unpartitioned_window(spark):
    import __spark_entry__ as entry

    offenders = {}
    for name, fn in entry.queries().items():
        df = fn(spark, SF_DIR)
        bad = [w for w, empty in _window_nodes(df) if empty]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        f"unpartitioned Window nodes (single-task at any cluster size): "
        f"{offenders}"
    )
