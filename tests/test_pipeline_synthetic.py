"""End-to-end pipeline on deterministic synthetic pages vs a pure-Python oracle.

The oracle re-implements the reference's reduction/enrichment/rollup
semantics row-at-a-time in plain pandas (the reference's own execution
model), independently of the Spark operators under test.
"""

import hashlib
from pathlib import Path

import pandas as pd
import pandas.testing
import pytest

from dandi_s3_log_parser_spark import datagen
from dandi_s3_log_parser_spark.config import TEST_IP_HASH_SALT
from dandi_s3_log_parser_spark.datagen import generate, sha1_ip_hash, to_spark
from dandi_s3_log_parser_spark.functions.parsing import parse_line_to_fields
from dandi_s3_log_parser_spark.plans.pipeline import (
    PipelineConfig,
    run_pipeline,
    thread_inheritor,
)
from dandi_s3_log_parser_spark.plans.lineage import LineageLog
from dandi_s3_log_parser_spark.sources.tables import Catalog

N_PAGES = 1500
SEED = 7


# ---------------------------------------------------------------------------
# Pure-python oracle (reference basic-path semantics)
# ---------------------------------------------------------------------------


def oracle_reduce(tables) -> pd.DataFrame:
    excluded = set(tables.excluded_ips["ip_address"])
    rows = []
    for _, page in tables.pages.iterrows():
        header = page["html"].decode("utf-8").split("\n", 1)[0]
        fields = parse_line_to_fields(header)
        if fields is None:
            continue
        ts_raw, ip, op, key, status, bytes_raw = (
            fields[2], fields[3], fields[6], fields[7], fields[9], fields[11]
        )
        if ip in excluded or op != "REST.GET.OBJECT":
            continue
        parent = key.split("/")[0]
        if parent not in ("blobs", "zarr"):
            continue
        if not status.startswith("2"):
            continue
        if parent == "zarr":
            key = "/".join(key.split("/")[:2])
        ts = pd.to_datetime(ts_raw[:-6], format="%d/%b/%Y:%H:%M:%S")
        rows.append(
            (ts.isoformat(), ip, key, 0 if bytes_raw == "-" else int(bytes_raw))
        )
    return pd.DataFrame(rows, columns=["timestamp", "ip_address", "object_key", "bytes_sent"])


def oracle_region(ip: str, tables) -> str:
    h = sha1_ip_hash(ip)
    cache = dict(zip(tables.ip_region_cache["ip_hash"], tables.ip_region_cache["region"]))
    if h in cache:
        return cache[h]
    ip_long = datagen.ip_to_long(ip)
    for _, r in tables.cidr_ranges.sort_values("precedence").iterrows():
        if r["net_start"] <= ip_long <= r["net_end"]:
            return f"{r['service']}/{r['subregion']}" if r["subregion"] else r["service"]
    geo = dict(zip(tables.geo_fallback["ip_hash"], tables.geo_fallback["region"]))
    return geo.get(h, "unknown")


@pytest.fixture(scope="module")
def pipeline_run(spark, tmp_path_factory):
    tables = generate(N_PAGES, SEED)
    pages, dims = to_spark(spark, tables)
    catalog = Catalog(spark, tmp_path_factory.mktemp("warehouse"))
    lineage = run_pipeline(spark, catalog, pages, dims, PipelineConfig(), "run-test")
    return tables, catalog, lineage


def test_reduced_matches_oracle(spark, pipeline_run):
    tables, catalog, _ = pipeline_run
    from dandi_s3_log_parser_spark.plans.pipeline import read_reduced

    got = (
        read_reduced(catalog)
        .toPandas()
        .assign(timestamp=lambda d: d["timestamp"].dt.strftime("%Y-%m-%dT%H:%M:%S"))
        [["timestamp", "ip_address", "object_key", "bytes_sent"]]
        .sort_values(["timestamp", "ip_address", "object_key", "bytes_sent"])
        .reset_index(drop=True)
    )
    want = (
        oracle_reduce(tables)
        .sort_values(["timestamp", "ip_address", "object_key", "bytes_sent"])
        .reset_index(drop=True)
    )
    assert len(want) > 0
    pandas.testing.assert_frame_equal(got, want)


def test_text_extraction_byte_identical(spark, pipeline_run):
    tables, catalog, _ = pipeline_run
    from dandi_s3_log_parser_spark.functions.text import with_header_and_text

    pages, _ = to_spark(spark, tables)
    ext = with_header_and_text(pages).select("url", "text", "extracted_text").toPandas()
    assert len(ext) == len(tables.pages)
    mismatches = ext[
        ext["text"].str.encode("utf-8") != ext["extracted_text"].str.encode("utf-8")
    ]
    assert len(mismatches) == 0


def test_binned_routed_row_sets(spark, pipeline_run):
    """Per-key routed row multisets equal the reduced rows for that key
    (the reference binning invariant, SURVEY §2.1 S5)."""
    tables, catalog, _ = pipeline_run
    binned = catalog.read("binned").toPandas()
    from dandi_s3_log_parser_spark.plans.pipeline import read_reduced

    reduced = read_reduced(catalog).toPandas()
    for key, grp in reduced.groupby("object_key"):
        routed = binned[binned["object_key"] == key]
        left = routed[["timestamp", "bytes_sent", "ip_address"]].sort_values(
            ["timestamp", "bytes_sent", "ip_address"]
        ).reset_index(drop=True)
        right = grp[["timestamp", "bytes_sent", "ip_address"]].sort_values(
            ["timestamp", "bytes_sent", "ip_address"]
        ).reset_index(drop=True)
        pandas.testing.assert_frame_equal(left, right)
    # partition dirs prune by key prefix
    assert set(binned["key_parent"].unique()) <= {"blobs", "zarr"}


def test_region_enrichment_precedence(spark, pipeline_run):
    tables, catalog, _ = pipeline_run
    mapped = catalog.read("mapped_per_asset").toPandas()
    binned = catalog.read("binned").toPandas()
    ip_by_rowkey = {}
    # regions in mapped rows must follow cache -> CIDR -> geo -> unknown
    got_regions = set(mapped["region"].unique())
    expected_regions = {oracle_region(ip, tables) for ip in binned["ip_address"].unique()}
    assert got_regions <= expected_regions | {"unknown"}
    # spot-check exact per-ip mapping through the binned join
    from dandi_s3_log_parser_spark.operators.enrich import build_ip_region_map

    _, dims = to_spark(spark, tables)
    ip_map = build_ip_region_map(
        catalog.read("binned").select("ip_address"),
        dims["ip_region_cache"],
        dims["cidr_ranges"],
        dims["geo_fallback"],
    ).toPandas()
    for _, row in ip_map.iterrows():
        assert row["region"] == oracle_region(row["ip_address"], tables), row["ip_address"]


def test_summaries_match_oracle(spark, pipeline_run):
    tables, catalog, _ = pipeline_run
    reduced = oracle_reduce(tables)
    reduced["region"] = [oracle_region(ip, tables) for ip in reduced["ip_address"]]
    reduced["date"] = reduced["timestamp"].str[:10]
    assets = tables.assets

    # version grain: blob counted once per version it appears in
    ver = reduced.merge(assets, left_on="object_key", right_on="blob_key", how="inner")
    want_day = (
        ver.groupby(["dandiset_id", "version_id", "date"], as_index=False)["bytes_sent"].sum()
    )
    got_day = (
        catalog.read("version_summary_by_day")
        .toPandas()[["dandiset_id", "version_id", "date", "bytes_sent"]]
    )
    key = ["dandiset_id", "version_id", "date"]
    pandas.testing.assert_frame_equal(
        got_day.sort_values(key).reset_index(drop=True),
        want_day.sort_values(key).reset_index(drop=True),
        check_like=True,
    )

    # dandiset grain: distinct blob (version-shared blobs count once)
    dim = (
        assets.groupby(["dandiset_id", "blob_key"], as_index=False)["asset_path"].max()
    )
    ds = reduced.merge(dim, left_on="object_key", right_on="blob_key", how="inner")
    want_asset = ds.groupby(["dandiset_id", "asset_path"], as_index=False)["bytes_sent"].sum()
    got_asset = (
        catalog.read("dandiset_summary_by_asset")
        .toPandas()[["dandiset_id", "asset_path", "bytes_sent"]]
    )
    key = ["dandiset_id", "asset_path"]
    pandas.testing.assert_frame_equal(
        got_asset.sort_values(key).reset_index(drop=True),
        want_asset.sort_values(key).reset_index(drop=True),
        check_like=True,
    )

    want_region = ds.groupby(["dandiset_id", "region"], as_index=False)["bytes_sent"].sum()
    got_region = (
        catalog.read("dandiset_summary_by_region")
        .toPandas()[["dandiset_id", "region", "bytes_sent"]]
    )
    key = ["dandiset_id", "region"]
    pandas.testing.assert_frame_equal(
        got_region.sort_values(key).reset_index(drop=True),
        want_region.sort_values(key).reset_index(drop=True),
        check_like=True,
    )


def test_mapped_index_is_rownumber(spark, pipeline_run):
    _, catalog, _ = pipeline_run
    mapped = catalog.read("mapped_per_asset").toPandas()
    for _, grp in mapped.groupby(["dandiset_id", "version_id", "asset_path"]):
        idx = sorted(grp["index"])
        assert idx == list(range(len(grp)))
        by_idx = grp.sort_values("index")["timestamp"].tolist()
        assert by_idx == sorted(by_idx)


def test_lineage_metrics(spark, pipeline_run):
    _, catalog, lineage = pipeline_run
    lin = lineage.read().toPandas()
    assert set(lin["stage"]) == {"reduce", "bin", "map"}
    red = lin[lin["stage"] == "reduce"]
    assert (red["rows_in"] > 0).all()
    assert (red["rows_out"] <= red["rows_in"]).all()


def _compile_count(spark) -> int:
    """Janino compiles so far in this JVM (Spark's codegen metric)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_second_run_reuses_compiled_code(spark, tmp_path):
    """A re-run of the same pipeline reuses its generated classes: the
    session's codegen cache holds a whole pass (about 140 sources), so
    the second run compiles almost nothing.

    Not exactly nothing: about 1 run in 10 builds a physical plan that
    differs from the earlier runs' (other codegen stage ids, another
    broadcast-join stage), and such a variant compiles 7-11 new sources
    the first time it appears.  A cache smaller than a pass recompiles
    all of them on every run (about 140 here)."""
    pages, dims = to_spark(spark, generate(N_PAGES, SEED))
    compiled = []
    for i in range(2):
        catalog = Catalog(spark, tmp_path / f"warehouse{i}")
        before = _compile_count(spark)
        run_pipeline(spark, catalog, pages, dims, PipelineConfig(), f"run-codegen-{i}")
        compiled.append(_compile_count(spark) - before)
    assert compiled[1] <= 25, compiled


def test_pipeline_jobs_carry_callers_job_group(spark, tmp_path):
    """Every job of a run, including the ones the map stage submits from
    its thread pools, belongs to the job group the caller set."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    pages, dims = to_spark(spark, generate(N_PAGES, SEED))
    catalog = Catalog(spark, tmp_path / "warehouse")
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("pipeline-job-group-test", "run_pipeline under a job group")
    try:
        run_pipeline(spark, catalog, pages, dims, PipelineConfig(), "run-job-group")
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert tracker.getJobIdsForGroup("pipeline-job-group-test")
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()


def test_pool_threads_inherit_job_tags(spark):
    """A job tag the caller added before the wrap is on the jobs a pool
    thread submits (pinned-thread mode, the default)."""
    from concurrent.futures import ThreadPoolExecutor

    spark.addTag("pool-thread-tag-test")
    try:
        wrapped = thread_inheritor(spark)(spark.getTags)
        with ThreadPoolExecutor(max_workers=1) as pool:
            assert "pool-thread-tag-test" in pool.submit(wrapped).result()
    finally:
        spark.removeTag("pool-thread-tag-test")


def test_pipeline_run_warns_nothing_about_tags(spark, tmp_path):
    """The map stage's pool threads get the session's tags, so PySpark
    has no "Tags will not be inherited" warning to give."""
    import warnings

    pages, dims = to_spark(spark, generate(N_PAGES, SEED))
    catalog = Catalog(spark, tmp_path / "warehouse")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        run_pipeline(spark, catalog, pages, dims, PipelineConfig(), "run-no-warning")
    assert not [w for w in caught if "Tags will not be inherited" in str(w.message)]


SUMMARY_ORDER = {
    # table: (key columns, sort column, descending)
    "version_summary_by_day": (["dandiset_id", "version_id"], "date", False),
    "version_summary_by_region": (["dandiset_id", "version_id"], "bytes_sent", True),
    "version_summary_by_asset": (["dandiset_id", "version_id"], "bytes_sent", True),
    "dandiset_summary_by_day": (["dandiset_id"], "date", False),
    "dandiset_summary_by_region": (["dandiset_id"], "bytes_sent", True),
    "dandiset_summary_by_asset": (["dandiset_id"], "bytes_sent", True),
}


@pytest.mark.parametrize("table", sorted(SUMMARY_ORDER))
def test_summary_sinks_keep_reference_order(pipeline_run, table):
    """Read in part-file order, each summary follows the reference's
    order: by_day ascending date, by_region / by_asset descending bytes,
    each within the keys."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    _, catalog, _ = pipeline_run
    keys, col, desc = SUMMARY_ORDER[table]
    parts = sorted(Path(catalog.path(table)).glob("part-*"))
    assert parts
    rows = pa.concat_tables([pq.read_table(p) for p in parts]).to_pylist()
    assert len(rows) > 1
    got = [(*(r[k] for k in keys), -r[col] if desc else r[col]) for r in rows]
    assert got == sorted(got)
