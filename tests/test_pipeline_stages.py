"""Pipeline stages one at a time: the reduce stage's single scan, work
list and per-day lineage, the work-limiting knobs, the timezone warn
metric, the mapped-index rank and the lineage log's commit files.

Most tests share one module-scoped synthetic pages input written to
parquet; the end-to-end oracle comparison is in
``test_pipeline_synthetic.py``.
"""

import datetime
import os
import time
import warnings
from pathlib import Path

import pandas
import pytest
from pyspark.sql import functions as F

from dandi_s3_log_parser_spark.datagen import generate, to_spark
from dandi_s3_log_parser_spark.operators.aggregate import mapped_per_asset
from dandi_s3_log_parser_spark.plans.lineage import LineageLog
from dandi_s3_log_parser_spark.plans.pipeline import (
    PipelineConfig,
    discover_days,
    run_bin_stage,
    run_pipeline,
    run_reduce_stage,
)
from dandi_s3_log_parser_spark.sources.tables import Catalog


def _plan_string(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    tables = generate(400, seed=11)
    pages, dims = to_spark(spark, tables)
    path = tmp_path_factory.mktemp("pages_src") / "pages"
    pages.write.mode("overwrite").parquet(str(path))
    return str(path), dims


# ---------------------------------------------------------------------------
# reduce: one scan, footer-stat work list, per-day rows_in
# ---------------------------------------------------------------------------


def test_reduce_stage_scans_pages_exactly_once(spark, pages_parquet, tmp_path, monkeypatch):
    """The full-width pages source appears exactly once in the reduce
    write's physical plan: work list and rows_in ride that single pass."""
    path, dims = pages_parquet
    pages = spark.read.parquet(path)
    catalog = Catalog(spark, tmp_path / "wh")
    captured = []
    orig_write = Catalog.write

    def spy_write(self, df, name, **kw):
        captured.append((name, _plan_string(df)))
        return orig_write(self, df, name, **kw)

    monkeypatch.setattr(Catalog, "write", spy_write)
    days = run_reduce_stage(
        spark, catalog, pages, PipelineConfig(), LineageLog(catalog), "r2",
        excluded_ips=dims.get("excluded_ips"),
    )
    assert days
    (name, plan), = [c for c in captured if c[0] == "reduced"]
    assert plan.count("FileScan parquet") == 1
    # and the parse expression tree is not duplicated by filter pushdown:
    # exactly one Arrow UDF evaluation per row (the CollectMetrics
    # barrier between parse and the rclass filter guarantees this)
    assert plan.count("ArrowEvalPython") == 1


def test_discover_days_reads_only_timestamp_column(spark, pages_parquet):
    path, _ = pages_parquet
    pages = spark.read.parquet(path)
    agg = pages.select(F.min("warc_ts").alias("lo"), F.max("warc_ts").alias("hi"))
    plan = _plan_string(agg)
    # footer-stat answer: either PushedAggregation kicked in, or at
    # minimum the scan schema was pruned to the timestamp column only
    assert "PushedAggregation: [MIN(warc_ts), MAX(warc_ts)]" in plan or (
        "warc_ts" in plan and "html" not in plan and "text" not in plan
    )
    days = discover_days(pages)
    assert days == sorted(days) and len(days) >= 1


def test_reduce_rows_in_matches_observed_input(spark, pages_parquet, tmp_path):
    path, dims = pages_parquet
    pages = spark.read.parquet(path)
    catalog = Catalog(spark, tmp_path / "wh2")
    lineage = LineageLog(catalog)
    run_reduce_stage(
        spark, catalog, pages, PipelineConfig(), lineage, "r2b",
        excluded_ips=dims.get("excluded_ips"),
    )
    per_day = {
        r["day"]: r["n"]
        for r in pages.groupBy(
            F.date_format("warc_ts", "yyyy-MM-dd").alias("day")
        ).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    logged = {
        r["input_partition"]: r["rows_in"]
        for r in lineage.read().filter(F.col("stage") == "reduce").collect()
    }
    for d, n in per_day.items():
        assert logged.get(d) == n
    # enumerated gap days (if any) observed as zero, not null
    for d, n in logged.items():
        assert n == per_day.get(d, 0)


def test_backfill_over_64_days_keeps_per_day_rows_in(spark, tmp_path):
    """A >64-day work list is processed in <=64-day chunks so per-day
    rows_in lineage survives the large-backfill scenario (previously it
    was recorded as NULL for every day beyond the observe cap)."""
    line = (
        "owner bucket [01/Jan/2020:05:06:35 +0000] 9.9.9.9 - REQ1 REST.GET.OBJECT "
        'blobs/aaa/bbb/cc "GET /blobs/aaa/bbb/cc HTTP/1.1" 200 - 512 512 1 1 '
        '"-" "agent/1.0" - H== - C - host TLSv1.2 - -'
    )
    t0 = datetime.datetime(2024, 1, 1, 12, 0)
    rows = [
        (f"u{i}", t0 + datetime.timedelta(days=i), (line + "\nbody").encode(),
         "body", "en")
        for i in range(70)
    ]
    pages = spark.createDataFrame(
        rows,
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    )
    catalog = Catalog(spark, tmp_path / "wh")
    lineage = LineageLog(catalog)
    days = run_reduce_stage(
        spark, catalog, pages, PipelineConfig(), lineage, "backfill"
    )
    assert len(days) == 70
    lin = lineage.read().toPandas()
    red = lin[lin["stage"] == "reduce"]
    assert len(red) == 70
    assert red["rows_in"].notna().all()
    assert (red["rows_in"] == 1).all()
    assert (red["rows_out"] == 1).all()
    # resume over the same input is a no-op (chunk-grain commit held)
    again = run_reduce_stage(
        spark, catalog, pages, PipelineConfig(), lineage, "backfill-2"
    )
    assert again == []


# ---------------------------------------------------------------------------
# the reference's work-limiting knobs + the tz warn metric
# ---------------------------------------------------------------------------


def test_excluded_years_skips_whole_years(spark, pages_parquet, tmp_path):
    path, dims = pages_parquet
    pages = spark.read.parquet(path)
    catalog = Catalog(spark, tmp_path / "wh")
    days = run_reduce_stage(
        spark, catalog, pages, PipelineConfig(excluded_years=(2024,)),
        LineageLog(catalog), "r-ex",
    )
    assert days == []  # all synthetic days are in 2024


def test_bin_file_limit_caps_one_run_and_resumes(spark, pages_parquet, tmp_path):
    path, dims = pages_parquet
    pages = spark.read.parquet(path)
    catalog = Catalog(spark, tmp_path / "wh")
    lineage = LineageLog(catalog)
    cfg = PipelineConfig(file_limit=2)
    all_days = run_reduce_stage(spark, catalog, pages, cfg, lineage, "r")
    done1 = run_bin_stage(spark, catalog, cfg, lineage, "b1")
    assert len(done1) == 2
    done2 = run_bin_stage(spark, catalog, cfg, lineage, "b2")
    assert len(done2) == 2 and set(done1).isdisjoint(done2)
    rest = run_bin_stage(spark, catalog, PipelineConfig(), lineage, "b3")
    assert sorted(done1 + done2 + rest) == all_days


def test_dandiset_limit_restricts_map(spark, pages_parquet, tmp_path):
    path, dims = pages_parquet
    pages = spark.read.parquet(path)
    catalog = Catalog(spark, tmp_path / "wh")
    run_pipeline(
        spark, catalog, pages, dims, PipelineConfig(dandiset_limit=1), "r-lim"
    )
    got = {
        r["dandiset_id"]
        for r in catalog.read("dandiset_summary_by_day").select("dandiset_id").distinct().collect()
    }
    want_first = min(
        r["dandiset_id"] for r in dims["assets"].select("dandiset_id").distinct().collect()
    )
    assert got == {want_first}


def test_tz_warn_metric_counts_but_keeps_rows(spark, tmp_path):
    tables = generate(200, seed=9)
    # rewrite a few headers with a +0200 zone (still parseable)
    pdf = tables.pages.copy()
    n_twisted = 0
    htmls = []
    for i, b in enumerate(pdf["html"]):
        if i < 5:
            htmls.append(b.replace(b" +0000]", b" +0200]", 1))
            n_twisted += 1
        else:
            htmls.append(b)
    pdf["html"] = htmls
    tables.pages = pdf
    pages, dims = to_spark(spark, tables)
    catalog = Catalog(spark, tmp_path / "wh")
    lineage = LineageLog(catalog)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        run_reduce_stage(
            spark, catalog, pages, PipelineConfig(), lineage, "r-tz",
            excluded_ips=dims.get("excluded_ips"),
        )
    assert any("non-+0000" in str(w.message) for w in caught)
    warn_rows = lineage.read().filter(F.col("stage") == "reduce_tz_warn").collect()
    assert len(warn_rows) == 1 and warn_rows[0]["rows_out"] == n_twisted
    # rows with the odd zone are KEPT (counter, not filter): total reduced
    # rows equal a run on the unmodified pages
    clean_tables = generate(200, seed=9)
    clean_pages, _ = to_spark(spark, clean_tables)
    cat2 = Catalog(spark, tmp_path / "wh_clean")
    run_reduce_stage(
        spark, cat2, clean_pages, PipelineConfig(), LineageLog(cat2), "r-clean",
        excluded_ips=dims.get("excluded_ips"),
    )
    n_tz = catalog.read("reduced").count()
    n_clean = cat2.read("reduced").count()
    assert n_tz == n_clean


# ---------------------------------------------------------------------------
# map: skew-proof mapped index
# ---------------------------------------------------------------------------


def test_mapped_per_asset_two_phase_equals_single_window(spark):
    """The skew-proof two-phase rank must produce EXACTLY the single-
    window result, including on a hot key with in-hour and cross-hour
    ties (the 46%-of-corpus zarr asset is the real-world shape)."""
    rows = []
    base = datetime.datetime(2024, 3, 1)
    # hot asset: 500 rows over 6 hours incl. duplicate timestamps
    for i in range(500):
        ts = base + datetime.timedelta(minutes=(i // 2) * 7)  # pairwise ties
        rows.append(("d1", "v1", "hot", ts, f"ip{i % 9}", i % 50))
    # cold assets
    for i in range(20):
        rows.append(("d1", "v1", f"cold{i % 3}", base + datetime.timedelta(hours=i), "ip0", i))
    activity = spark.createDataFrame(
        rows,
        "dandiset_id string, version_id string, asset_path string, "
        "timestamp timestamp, ip_address string, bytes_sent long",
    ).withColumn("region", F.lit("r1"))

    a = mapped_per_asset(activity, skew_bucket="hour").toPandas()
    b = mapped_per_asset(activity, skew_bucket=None).toPandas()
    key = ["dandiset_id", "version_id", "asset_path", "index"]
    pandas.testing.assert_frame_equal(
        a.sort_values(key).reset_index(drop=True),
        b.sort_values(key).reset_index(drop=True),
        check_like=True,
    )
    # dense 0-based per asset
    hot = a[a.asset_path == "hot"]
    assert sorted(hot["index"]) == list(range(500))


# ---------------------------------------------------------------------------
# lineage log: in-progress commit files are hidden and collected
# ---------------------------------------------------------------------------


def test_lineage_inprogress_files_are_hidden(spark, tmp_path):
    catalog = Catalog(spark, tmp_path / "wh")
    lineage = LineageLog(catalog)
    lineage.record("r1", "reduce", [("2024-01-01", 10, 9)])
    d = Path(catalog.path("lineage"))
    # simulate a crashed writer: partial hidden temp file
    stale = d / ".commit-deadbeef.inprogress"
    stale.write_bytes(b"not parquet at all")
    # spark.read over the dir must ignore it
    assert lineage.read().count() == 1
    assert lineage.metrics().count() == 1
    # an old stale file is GC'd by the next record()
    past = time.time() - 3600
    os.utime(stale, (past, past))
    lineage.record("r2", "reduce", [("2024-01-02", 5, 5)])
    assert not stale.exists()
    assert lineage.read().count() == 2
