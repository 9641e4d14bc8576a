"""Table catalog: the Iceberg write branch, the region-cache MERGE and
the parquet fallback, pinned with the recorder of ``iceberg_recorder.py``.
The MERGE commit retry is in ``test_iceberg_merge_retry.py``.
"""

from pyspark.sql.types import LongType, StringType, StructField, StructType

from dandi_s3_log_parser_spark.operators.enrich import merge_region_cache
from dandi_s3_log_parser_spark.sources.tables import Catalog

from .iceberg_recorder import IcebergRecorder, iceberg_catalog


LINEAGE_SCHEMA = StructType(
    [StructField("stage", StringType()), StructField("rows_in", LongType())]
)


# ---------------------------------------------------------------------------
# write: create / overwrite / append / schema evolution
# ---------------------------------------------------------------------------


def test_iceberg_create_honors_partition_spec(spark):
    rec = IcebergRecorder()
    iceberg_catalog(rec, exists=False).write(
        rec.frame(), "reduced", partition_by=("day", "rclass"), mode="overwrite"
    )
    assert rec.writes == [
        ("writeTo", "ice.db.reduced"),
        ("using", "iceberg"),
        ("partitionedBy", 2),
        ("create",),
    ]


def test_iceberg_overwrite_is_partition_scoped(spark):
    rec = IcebergRecorder()
    iceberg_catalog(rec).write(
        rec.frame(), "reduced", partition_by=("day",), mode="overwrite"
    )
    assert ("overwritePartitions",) in rec.writes
    assert ("createOrReplace",) not in rec.writes and ("create",) not in rec.writes
    assert rec.statements == []  # same schema: no ALTER


def test_iceberg_append(spark):
    rec = IcebergRecorder()
    iceberg_catalog(rec).write(rec.frame(), "t", mode="append")
    assert rec.writes == [("writeTo", "ice.db.t"), ("append",)]


def test_iceberg_append_evolves_schema_with_add_columns():
    """A long-lived deployment's first migration: the lineage table
    gains a metric column.  Appending a widened frame must issue ONE
    metadata-only ALTER TABLE ... ADD COLUMNS before the append — and
    never for columns the table already has."""
    widened = StructType(
        LINEAGE_SCHEMA.fields + [StructField("bytes_spilled", LongType())]
    )
    rec = IcebergRecorder(table_schema=LINEAGE_SCHEMA)
    iceberg_catalog(rec).write(rec.frame(widened), "lineage", mode="append")
    assert rec.statements == [
        "ALTER TABLE ice.db.lineage ADD COLUMNS (bytes_spilled bigint)"
    ]
    assert rec.writes == [("writeTo", "ice.db.lineage"), ("append",)]


def test_iceberg_append_same_schema_issues_no_alter():
    rec = IcebergRecorder(table_schema=LINEAGE_SCHEMA)
    iceberg_catalog(rec).write(rec.frame(LINEAGE_SCHEMA), "lineage", mode="append")
    assert rec.statements == []
    assert rec.writes == [("writeTo", "ice.db.lineage"), ("append",)]


# ---------------------------------------------------------------------------
# merge_region_cache: MERGE INTO on Iceberg, staging swap on parquet
# ---------------------------------------------------------------------------


def test_merge_region_cache_issues_merge_into_on_iceberg(spark):
    """On an Iceberg catalog with an existing cache table, the merge
    must be a real MERGE INTO (insert-only, first-write-wins) — one
    snapshot commit, never a table rewrite — and the temp view must be
    dropped afterwards."""
    rec = IcebergRecorder()
    ip_map = spark.createDataFrame(
        [("h1", "eu"), ("h2", "unknown")], "ip_hash string, region string"
    )
    merge_region_cache(iceberg_catalog(rec), ip_map)
    assert len(rec.statements) == 1
    stmt = rec.statements[0]
    assert stmt.startswith("MERGE INTO ice.db.ip_region_cache t USING ")
    assert "ON t.ip_hash = s.ip_hash" in stmt
    assert "WHEN NOT MATCHED THEN INSERT (ip_hash, region)" in stmt
    # insert-only: an existing entry is never updated
    assert "WHEN MATCHED" not in stmt
    assert len(rec.dropped) == 1 and rec.dropped[0] in stmt


def test_merge_region_cache_iceberg_first_write_creates(spark):
    """No cache table yet -> plain create through the catalog write
    path, no MERGE statement."""
    calls = []
    rec = IcebergRecorder()
    cat = iceberg_catalog(rec, exists=False)
    cat.write = lambda df, name, **kw: calls.append((name, kw.get("mode")))
    ip_map = spark.createDataFrame([("h1", "eu")], "ip_hash string, region string")
    merge_region_cache(cat, ip_map)
    assert calls == [("ip_region_cache", "overwrite")]
    assert rec.statements == []


def test_merge_region_cache_parquet_unchanged(spark, tmp_path):
    """The parquet fallback keeps first-write-wins + staging-swap
    semantics (regression guard for the Iceberg branch)."""
    cat = Catalog(spark, tmp_path / "wh")
    first = spark.createDataFrame(
        [("h1", "eu"), ("h2", "us")], "ip_hash string, region string"
    )
    merge_region_cache(cat, first)
    second = spark.createDataFrame(
        [("h1", "ap"), ("h3", "sa")], "ip_hash string, region string"
    )
    merge_region_cache(cat, second)
    got = {
        r["ip_hash"]: r["region"]
        for r in cat.read("ip_region_cache").collect()
    }
    assert got == {"h1": "eu", "h2": "us", "h3": "sa"}  # h1 NOT rewritten
    assert not cat.exists("ip_region_cache__staging")
