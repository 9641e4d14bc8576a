"""The bin stage's salted repartition (``operators/route.route_binned``).

The repartition names its columns but no partition count, so AQE sizes
it from the bytes it measures: a small batch coalesces into one file per
``(day, key_parent)`` directory, while with coalescing off (the width a
large batch keeps) the hot key's rows spread over the salt buckets.
"""

from __future__ import annotations

import math
from collections import Counter
from pathlib import Path

import pyarrow.parquet as pq

from dandi_s3_log_parser_spark.datagen import generate, to_spark
from dandi_s3_log_parser_spark.plans.lineage import LineageLog
from dandi_s3_log_parser_spark.plans.pipeline import (
    PipelineConfig,
    run_bin_stage,
    run_reduce_stage,
)
from dandi_s3_log_parser_spark.sources.tables import Catalog

COALESCE = "spark.sql.adaptive.coalescePartitions.enabled"


def _bin(spark, tmp_path, cfg: PipelineConfig):
    """Reduce + bin ``generate(1500, 7)``; the binned data files and the
    generator's hot zarr key."""
    tables = generate(1500, 7)
    pages, _ = to_spark(spark, tables)
    catalog = Catalog(spark, tmp_path / "warehouse")
    lineage = LineageLog(catalog)
    run_reduce_stage(spark, catalog, pages, cfg, lineage, "run-route")
    run_bin_stage(spark, catalog, cfg, lineage, "run-route")
    files = sorted(Path(catalog.path("binned")).rglob("part-*.parquet"))
    return files, tables.expected["hot_zarr"]


def test_small_batch_writes_one_file_per_directory(spark, tmp_path):
    files, _ = _bin(spark, tmp_path, PipelineConfig())
    per_dir = Counter(f.parent for f in files)
    assert per_dir
    assert all(p.parent.name.startswith("day=") for p in per_dir)
    assert all(p.name.startswith("key_parent=") for p in per_dir)
    assert set(per_dir.values()) == {1}, per_dir


def test_hot_key_spreads_over_salt_buckets(spark, tmp_path):
    """At full width (coalescing off) the hot key's rows land in at
    least min(salt_buckets, shuffle partitions) files, none holding more
    than twice an even share."""
    cfg = PipelineConfig()
    before = spark.conf.get(COALESCE)
    spark.conf.set(COALESCE, "false")
    try:
        files, hot = _bin(spark, tmp_path, cfg)
        width = min(cfg.salt_buckets, int(spark.conf.get("spark.sql.shuffle.partitions")))
    finally:
        spark.conf.set(COALESCE, before)
    per_file = [
        pq.read_table(f, columns=["object_key"]).column("object_key").to_pylist().count(hot)
        for f in files
    ]
    hot_rows = [n for n in per_file if n]
    assert len(hot_rows) >= width, hot_rows
    assert max(hot_rows) <= math.ceil(sum(hot_rows) / width) * 2, hot_rows
