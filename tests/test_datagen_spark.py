"""Page generators: the distributed one is deterministic in (n, seed),
independent of partitioning/parallelism — the property the N-vs-4N
scaling protocol relies on (same input at both cluster sizes); the
driver-side one shares its page builder and its dimension tables."""

import pandas as pd
import pandas.testing
import pyspark.sql.functions as F
import pytest

from dandi_s3_log_parser_spark.config import PAGES_SCHEMA
from dandi_s3_log_parser_spark.datagen import generate, generate_pages_spark


def _fingerprint(df):
    return df.select(
        F.expr("bit_xor(xxhash64(url, text, cast(warc_ts as long), lang, html))").alias("h"),
        F.count(F.lit(1)).alias("n"),
    ).first()


def test_generate_pages_spark_partitioning_independent(spark):
    a = _fingerprint(generate_pages_spark(spark, 20_000, seed=7))
    b = _fingerprint(generate_pages_spark(spark, 20_000, seed=7).repartition(13))
    c = _fingerprint(generate_pages_spark(spark, 20_000, seed=7).coalesce(1))
    assert a["n"] == b["n"] == c["n"] == 20_000
    assert a["h"] == b["h"] == c["h"]


def test_generate_pages_spark_seed_sensitivity(spark):
    a = _fingerprint(generate_pages_spark(spark, 5_000, seed=1))
    b = _fingerprint(generate_pages_spark(spark, 5_000, seed=2))
    assert a["h"] != b["h"]


def test_generate_pages_spark_schema_and_invariant(spark):
    df = generate_pages_spark(spark, 2_000, seed=3)
    assert [f.name for f in df.schema.fields] == ["url", "warc_ts", "html", "text", "lang"]
    # byte-identity invariant holds on generated data: html body == text
    from dandi_s3_log_parser_spark.functions.text import with_header_and_text

    bad = (
        with_header_and_text(df)
        .filter(F.col("extracted_text") != F.col("text"))
        .count()
    )
    assert bad == 0


DIMS = ("assets", "cidr_ranges", "ip_region_cache", "geo_fallback", "excluded_ips")


@pytest.mark.parametrize("seed", [0, 7, 42, 601])
def test_generate_pages_share_dims_and_distributions(seed):
    empty, tables = generate(0, seed), generate(500, seed)
    # dimension tables are drawn before any page: independent of n_pages
    for name in DIMS:
        pandas.testing.assert_frame_equal(getattr(empty, name), getattr(tables, name))
    assert empty.expected == tables.expected
    assert len(empty.pages) == 0

    pages = tables.pages
    assert list(empty.pages.columns) == list(pages.columns) == PAGES_SCHEMA.fieldNames()
    assert len(pages) == 500
    assert pd.api.types.is_datetime64_any_dtype(pages["warc_ts"])
    assert pages["html"].map(type).eq(bytes).all()
    for col in ("url", "text", "lang"):
        assert pages[col].map(type).eq(str).all()

    headers = []
    for html, text in zip(pages["html"], pages["text"]):
        header, sep, body = html.partition(b"\n")
        assert sep and body == text.encode("utf-8")
        headers.append(header.decode("utf-8"))
    headers = pd.Series(headers)

    hot = pages["url"].str.contains(f"/{tables.expected['hot_zarr']}/", regex=False)
    assert 0.40 <= hot.mean() <= 0.50
    assert headers.str.contains('""Mozilla', regex=False).any()  # unescaped quote
    assert headers.str.contains(r'HTTP/1\.1" \d+ - - ', regex=True).any()  # '-' bytes
