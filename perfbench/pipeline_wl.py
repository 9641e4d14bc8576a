"""The ``pipeline_full`` workload: synthetic S3-log pages through the
reduce -> bin -> map stages, each pass into a fresh warehouse.

The oracle is computed independently of the program's operators, with
pandas over the generated pages, and every pass is checked against it:
the kept (reduced) row count and the ``version_summary_by_day``,
``dandiset_summary_by_asset`` and ``dandiset_summary_by_region`` tables.
"""

from __future__ import annotations

import hashlib
import ipaddress
import shutil
from pathlib import Path

import pandas as pd
import pyarrow.dataset as pads
import pyarrow.parquet as pq

_HEADER = (
    r"^\S+ \S+ \[(?P<ts>[^\]]+)\] (?P<ip>\S+) \S+ \S+ (?P<op>\S+) (?P<key>\S+) "
    r'"[^"]*" (?P<status>\S+) \S+ (?P<bytes>\S+)'
)
SUMMARIES = {
    "version_summary_by_day": ["dandiset_id", "version_id", "date"],
    "dandiset_summary_by_asset": ["dandiset_id", "asset_path"],
    "dandiset_summary_by_region": ["dandiset_id", "region"],
}
# warehouse tables each stage writes (lineage is counted on its own)
STAGE_TABLES = {
    "reduce": ["reduced"],
    "bin": ["binned"],
    "map": [
        "mapped_per_asset",
        *(f"{t}_{g}" for t in ("version_summary", "dandiset_summary") for g in ("by_day", "by_region", "by_asset")),
    ],
}


def _regions(ips, tables) -> dict[str, str]:
    """Region of each ip by precedence: salted-hash cache, then CIDR
    ranges in precedence order, then the geo fallback, else ``unknown``."""
    from dandi_s3_log_parser_spark.config import TEST_IP_HASH_SALT

    cache = dict(zip(tables.ip_region_cache["ip_hash"], tables.ip_region_cache["region"]))
    geo = dict(zip(tables.geo_fallback["ip_hash"], tables.geo_fallback["region"]))
    cidrs = list(tables.cidr_ranges.sort_values("precedence").itertuples())

    def region(ip: str) -> str:
        h = hashlib.sha1((ip + TEST_IP_HASH_SALT).encode()).hexdigest()
        if h in cache:
            return cache[h]
        ip_long = int(ipaddress.ip_address(ip))
        for r in cidrs:
            if r.net_start <= ip_long <= r.net_end:
                return f"{r.service}/{r.subregion}" if r.subregion else r.service
        return geo.get(h, "unknown")

    return {ip: region(ip) for ip in ips}


def oracle(pages_dir: Path, tables) -> dict:
    """Expected kept-row count and summary tables for the pages."""
    html = pq.read_table(pages_dir, columns=["html"]).column("html").to_pylist()
    header = pd.Series([b[: b.find(b"\n")].decode() for b in html], dtype=object)
    f = header.str.extract(_HEADER).dropna()
    parent = f["key"].str.split("/", n=1).str[0]
    keep = (
        ~f["ip"].isin(set(tables.excluded_ips["ip_address"]))
        & (f["op"] == "REST.GET.OBJECT")
        & parent.isin(["blobs", "zarr"])
        & f["status"].str.startswith("2")
    )
    f, parent = f[keep], parent[keep]
    zarr_key = f["key"].str.split("/").str[:2].str.join("/")
    kept = pd.DataFrame(
        {
            "date": pd.to_datetime(f["ts"].str[:-6], format="%d/%b/%Y:%H:%M:%S").dt.strftime("%Y-%m-%d"),
            "object_key": f["key"].where(parent != "zarr", zarr_key),
            "bytes_sent": pd.to_numeric(f["bytes"].replace("-", "0")).astype("int64"),
            "ip": f["ip"],
        }
    )
    kept["region"] = kept["ip"].map(_regions(kept["ip"].unique(), tables))
    assets = tables.assets
    ver = kept.merge(assets, left_on="object_key", right_on="blob_key")
    dim = assets.groupby(["dandiset_id", "blob_key"], as_index=False)["asset_path"].max()
    ds = kept.merge(dim, left_on="object_key", right_on="blob_key")
    frames = {
        "version_summary_by_day": ver,
        "dandiset_summary_by_asset": ds,
        "dandiset_summary_by_region": ds,
    }
    return {
        "reduced_rows": len(kept),
        **{
            name: _canon(frames[name].groupby(keys, as_index=False)["bytes_sent"].sum(), keys)
            for name, keys in SUMMARIES.items()
        },
    }


def _canon(df: pd.DataFrame, keys: list[str]) -> list[tuple]:
    cols = [*keys, "bytes_sent"]
    return sorted(tuple(r) for r in df[cols].astype({"bytes_sent": "int64"}).itertuples(index=False))


def check(warehouse: Path, expected: dict) -> bool:
    """The pass's committed tables equal the oracle (read with pyarrow,
    outside Spark, so the check adds no Spark jobs)."""
    reduced = pads.dataset(warehouse / "reduced", format="parquet", partitioning="hive")
    if reduced.count_rows(filter=pads.field("rclass") == "ok") != expected["reduced_rows"]:
        return False
    for name, keys in SUMMARIES.items():
        got = pq.read_table(warehouse / name).to_pandas()
        if _canon(got, keys) != expected[name]:
            return False
    return True


def table_sizes(warehouse: Path) -> dict[str, float]:
    """Bytes and data files each stage left in the warehouse."""
    out = {}
    for stage, names in STAGE_TABLES.items():
        files = [p for n in names for p in (warehouse / n).rglob("*.parquet")]
        out[f"tables.{stage}.bytes_written"] = float(sum(p.stat().st_size for p in files))
        out[f"tables.{stage}.files_written"] = float(len(files))
    return out


class PipelineWorkload:
    """Inputs, oracle and passes of ``pipeline_full``."""

    name = "pipeline_full"

    def __init__(self, spark, work: Path, n_pages: int, seed: int, tracer) -> None:
        self.spark, self.n_pages, self.seed = spark, n_pages, seed
        self.tracer = tracer
        self.pages_dir = work / "pages"
        self.warehouse = work / "warehouse"
        self.n_docs = n_pages

    def make_inputs(self) -> None:
        from dandi_s3_log_parser_spark.datagen import generate, generate_pages_spark, to_spark

        generate_pages_spark(self.spark, self.n_pages, self.seed).write.mode(
            "overwrite"
        ).parquet(str(self.pages_dir))
        # the dimension tables generate_pages_spark draws its keys and ips from
        self.tables = generate(0, self.seed)
        self.dims = to_spark(self.spark, self.tables)[1]

    def make_oracle(self) -> None:
        self.expected = oracle(self.pages_dir, self.tables)

    def check_once(self) -> bool:
        return True  # the oracle is fast enough to check every pass

    def prepare_pass(self) -> None:
        shutil.rmtree(self.warehouse, ignore_errors=True)

    def run_pass(self, run_id: str) -> bool:
        from dandi_s3_log_parser_spark.plans.lineage import LineageLog
        from dandi_s3_log_parser_spark.plans.pipeline import (
            PipelineConfig,
            run_bin_stage,
            run_map_stage,
            run_reduce_stage,
        )
        from dandi_s3_log_parser_spark.sources.tables import Catalog

        tr, spark, dims = self.tracer, self.spark, self.dims
        with tr.span(self.name):
            catalog = Catalog(spark, self.warehouse)
            lineage = LineageLog(catalog)
            cfg = PipelineConfig()
            pages = spark.read.parquet(str(self.pages_dir))
            with tr.span("reduce"):
                run_reduce_stage(
                    spark, catalog, pages, cfg, lineage, run_id,
                    excluded_ips=dims["excluded_ips"], resume=False,
                )
            with tr.span("bin"):
                run_bin_stage(spark, catalog, cfg, lineage, run_id, resume=False)
            with tr.span("map"):
                run_map_stage(
                    spark, catalog, cfg, lineage, run_id,
                    assets=dims["assets"],
                    ip_region_cache=dims["ip_region_cache"],
                    cidr_ranges=dims["cidr_ranges"],
                    geo_fallback=dims["geo_fallback"],
                )
            with tr.span("check"):
                return check(self.warehouse, self.expected)

    def layer_probes(self) -> dict[str, float]:
        """Re-run each public layer function on the last pass's
        warehouse, to the noop sink, in its own span; plus the lineage
        and table counters of that pass."""
        from pyspark import StorageLevel

        from dandi_s3_log_parser_spark.functions.text import with_header_and_text
        from dandi_s3_log_parser_spark.operators.aggregate import (
            dandiset_summaries,
            join_assets,
            mapped_per_asset,
            version_summaries,
        )
        from dandi_s3_log_parser_spark.operators.enrich import enrich_with_region
        from dandi_s3_log_parser_spark.operators.reduce import parse_and_filter_log_lines
        from dandi_s3_log_parser_spark.operators.route import route_binned
        from dandi_s3_log_parser_spark.plans.lineage import LineageLog
        from dandi_s3_log_parser_spark.plans.pipeline import PipelineConfig, read_reduced
        from dandi_s3_log_parser_spark.sources.tables import Catalog

        tr, spark, dims, cfg = self.tracer, self.spark, self.dims, PipelineConfig()
        catalog = Catalog(spark, self.warehouse)
        lineage = LineageLog(catalog)
        out = table_sizes(self.warehouse)
        lin = lineage.read().toPandas()
        red = lin[lin["stage"] == "reduce"]
        commits = Path(catalog.path("lineage")).glob("*.parquet")
        out["lineage.commit_files"] = float(len(list(commits)))
        with tr.span("lineage.pending"):
            lineage.pending("reduce", sorted(red["input_partition"]))
        rows_out = sum(lineage.stage_rows_out("reduce").values())
        out["reduce.rows_in"] = float(red["rows_in"].sum())
        out["reduce.rows_out"] = float(rows_out)
        out["reduce.keep_ratio"] = rows_out / max(out["reduce.rows_in"], 1.0)

        def noop(df) -> None:
            df.write.format("noop").mode("overwrite").save()

        with tr.span("reduce.parse"):
            pages = spark.read.parquet(str(self.pages_dir))
            noop(
                parse_and_filter_log_lines(
                    with_header_and_text(pages), "header",
                    operation_type=cfg.operation_type,
                    excluded_ips=dims["excluded_ips"],
                    key_parents=cfg.key_parents,
                    truncate_zarr=cfg.truncate_zarr,
                )
            )
        with tr.span("bin.route"):
            noop(
                route_binned(
                    read_reduced(catalog), salt_buckets=cfg.salt_buckets,
                    extra_cluster_cols=(cfg.day_col,),
                )
            )
        enriched = enrich_with_region(
            catalog.read("binned"), dims["ip_region_cache"], dims["cidr_ranges"],
            dims["geo_fallback"], salt=cfg.ip_hash_salt,
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            with tr.span("map.enrich"):
                enriched.count()
            activity = join_assets(enriched, dims["assets"])
            with tr.span("map.mapped_per_asset"):
                noop(mapped_per_asset(activity, skew_bucket=cfg.mapped_skew_bucket))
            with tr.span("map.version_summaries"):
                for df in version_summaries(activity).values():
                    noop(df)
            with tr.span("map.dandiset_summaries"):
                for df in dandiset_summaries(enriched, dims["assets"]).values():
                    noop(df)
        finally:
            enriched.unpersist()
        return out

