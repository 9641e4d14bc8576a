"""Region enrichment: the ip-map join and the region-cache merge.

The MERGE INTO branch of ``merge_region_cache`` is tested in
``test_catalog.py``; the region precedence against a pure-Python oracle
in ``test_pipeline_synthetic.py``.
"""

from pyspark.sql import DataFrame

from dandi_s3_log_parser_spark.datagen import generate, to_spark
from dandi_s3_log_parser_spark.operators.enrich import (
    enrich_with_region,
    merge_region_cache,
)
from dandi_s3_log_parser_spark.sources.tables import Catalog


def test_merge_region_cache_idempotent_no_driver_collect(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(
        DataFrame, "collect",
        lambda self: (_ for _ in ()).throw(AssertionError("driver collect in merge")),
    )
    catalog = Catalog(spark, tmp_path / "wh")
    m1 = spark.createDataFrame(
        [("h1", "AWS/us-east-1"), ("h2", "GitHub"), ("h3", "unknown")],
        "ip_hash string, region string",
    )
    merge_region_cache(catalog, m1)
    m2 = spark.createDataFrame(
        [("h1", "SHOULD-NOT-WIN"), ("h4", "GCP/europe-west1")],
        "ip_hash string, region string",
    )
    merge_region_cache(catalog, m2)
    merge_region_cache(catalog, m2)  # idempotent re-run
    monkeypatch.undo()
    got = {
        r["ip_hash"]: r["region"] for r in catalog.read("ip_region_cache").collect()
    }
    # existing entries win (reference cache semantics); unknown never cached
    assert got == {"h1": "AWS/us-east-1", "h2": "GitHub", "h4": "GCP/europe-west1"}
    assert not catalog.exists("ip_region_cache__staging")


def test_enrich_survives_broadcast_disabled(spark):
    """With autoBroadcastJoinThreshold=-1 the ip-map join degrades to a
    shuffle join and results are unchanged (no forced-broadcast OOM path)."""
    tables = generate(300, seed=5)
    _, dims = to_spark(spark, tables)
    facts = spark.createDataFrame(
        [("8.8.8.8", 1), ("1.2.3.4", 2), ("unknown", 3)],
        "ip_address string, x int",
    )
    args = (facts, dims["ip_region_cache"], dims["cidr_ranges"], dims["geo_fallback"])
    baseline = {r["x"]: r["region"] for r in enrich_with_region(*args).collect()}
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        got = {r["x"]: r["region"] for r in enrich_with_region(*args).collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    assert got == baseline and len(got) == 3
