"""End-to-end parse -> enrich -> route -> aggregate pipeline.

The reference's three CLI entry points (reduce / bin / map,
``_command_line_interface.py:15-175``) become three stage functions over
catalog tables, each checkpointed through the lineage table at
day-partition grain and resumable mid-pipeline.

Physical plan intent per stage (verify with ``.explain("formatted")``):

* reduce: parquet scan with day partition pruning -> codegen'd
  projections/filters -> one ArrowEvalPython (the status/bytes UDF) ->
  dynamic-overwrite day-partitioned write.  No shuffle at all.
* bin: day-pruned scan of reduced -> one salted repartition (the only
  shuffle, skew-spread; no partition count, so AQE sizes it from the
  bytes: full width at scale, a few tasks on a daily batch) ->
  partitioned write by (key_parent, key_shard, day).
* map: binned scan -> broadcast joins (assets dim, distinct-IP region
  map) -> partial+final hash aggregations for the summaries.  The fact
  table never shuffles for joins; only the final groupBys exchange
  pre-aggregated partials.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import (
    DEFAULT_KEY_PARENTS,
    DEFAULT_OPERATION_TYPE,
    ERROR_STATUS_PREFIX,
    OK_STATUSES,
    TEST_IP_HASH_SALT,
)
from ..functions.text import with_header_and_text
from ..operators.aggregate import (
    dandiset_summaries,
    join_assets,
    mapped_per_asset,
    version_summaries,
)
from ..operators.enrich import enrich_with_region
from ..operators.reduce import parse_and_filter_log_lines
from ..operators.route import route_binned
from ..sources.tables import Catalog
from .lineage import LineageLog


@dataclass
class PipelineConfig:
    operation_type: str = DEFAULT_OPERATION_TYPE
    key_parents: tuple[str, ...] = DEFAULT_KEY_PARENTS
    truncate_zarr: bool = True
    ip_hash_salt: str = TEST_IP_HASH_SALT
    salt_buckets: int = 8
    day_col: str = "day"
    # work-limiting knobs mirroring the reference CLIs:
    # excluded_years (_dandi_s3_log_file_reducer.py:70) skips whole years
    # at the work-list level; file_limit
    # (_bin_all_reduced_s3_logs_by_object_key.py:56) caps how many day
    # partitions one bin run consumes; dandiset_limit
    # (_map_binned_s3_logs_to_dandisets.py:76) maps only the first N
    # dandisets (sorted) — useful for incremental/debug runs
    excluded_years: tuple[int, ...] = ()
    file_limit: int | None = None
    dandiset_limit: int | None = None
    # hot-asset skew bucket for the per-asset index (see
    # operators/aggregate.mapped_per_asset): date_trunc granularity
    # bounding any one window task to a single bucket of the hottest
    # asset; None = single-window (skew-prone, lowest fixed overhead)
    mapped_skew_bucket: str | None = "hour"


def discover_days(pages: DataFrame, ts_col: str = "warc_ts") -> list[str]:
    """Work-list discovery from one column-pruned pass over ``ts_col``.

    On an Iceberg/partitioned source the day list is partition metadata
    and callers should pass it to :func:`run_reduce_stage` directly via
    ``days=``.  This fallback derives the calendar-day range from
    ``min/max(ts_col)`` — a single aggregate over one column with no
    grouping.  It reads every row of that one column: the session reads
    parquet through the V1 source, and parquet aggregate pushdown
    (footer statistics instead of data pages) applies only to the DSv2
    reader.  The full-width input is still never scanned before the
    real work starts (the round-1 plan ran groupBy(day).count() over the
    whole input — 2x the most expensive scan at 100 TB).

    Days with no rows inside the range are harmless: they produce no
    output partitions and commit rows_in=0 lineage.
    """
    import datetime

    row = pages.select(
        F.min(ts_col).alias("lo"), F.max(ts_col).alias("hi")
    ).first()
    if row is None or row["lo"] is None:
        return []
    lo, hi = row["lo"].date(), row["hi"].date()
    n = (hi - lo).days
    return [str(lo + datetime.timedelta(days=i)) for i in range(n + 1)]


def read_reduced(catalog: Catalog) -> DataFrame:
    """Kept reduced rows (partition-pruned on rclass='ok')."""
    return catalog.read("reduced").filter(F.col("rclass") == "ok").drop("rclass")


def read_reduce_errors(catalog: Catalog) -> DataFrame:
    """Error side-channel rows from the reduce stage."""
    return (
        catalog.read("reduced")
        .filter(F.col("rclass") == "error")
        .select(
            F.lit("reduce").alias("stage"),
            F.col("parse_status").alias("error_type"),
            F.col("url").alias("message"),
        )
    )


def classify_reduced(
    parsed: DataFrame,
    day: str,
    observation: Observation,
    metrics: list[Column],
    *,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Classify parsed rows into ``rclass`` ok/error, null ``url`` on
    kept rows and drop the rest; the batch and streaming reduce share it.

    ONE scan, ONE write: ok rows and error rows land in the same
    day-partitioned table under an ``rclass`` partition column (writing
    kept and errors as two separate actions would re-run the whole
    parse — 2x the scan at 100 TB).  Downstream reads partition-prune
    on rclass='ok'; the error side-channel is the rclass='error' slice
    (replaces the reference's per-process error files,
    _error_collection.py:7-40).  Well-formed-but-rejected rows (drop_*)
    are filtered out entirely, matching the bad-lines golden semantics.

    The caller's ``metrics`` are observed through ``observation`` on the
    write action itself — no post-write re-scan.  The CollectMetrics
    node sits BETWEEN the parse projection and the rclass keep-filter on
    purpose: it is also an optimizer barrier.  Without it Catalyst
    pushes the filter through the parse projection by substituting the
    whole parse expression tree into the predicate — every row then pays
    the native parse twice plus a second ArrowEvalPython (observed in
    the round-1 physical plan).  ``passthrough`` columns are visible to
    the metrics and dropped after the filter.
    """
    is_error = F.col("parse_status").startswith(ERROR_STATUS_PREFIX)
    full = parsed.withColumn(
        "rclass",
        F.when(is_error, "error").when(F.col("parse_status").isin(*OK_STATUSES), "ok"),
    ).select(
        "timestamp",
        "ip_address",
        "object_key",
        "bytes_sent",
        # url only matters on the error side-channel (the reference
        # error-collects the raw line, _error_collection.py:20-28);
        # for kept rows it is dead weight in the write and the bin
        # shuffle, so null it out — parquet RLE-nulls cost ~nothing
        F.when(is_error, F.col("url")).alias("url"),
        "parse_status",
        day,
        "rclass",
        *passthrough,
    )
    full = full.observe(observation, *metrics)
    return full.filter(F.col("rclass").isNotNull()).drop(*passthrough)


def run_reduce_stage(
    spark: SparkSession,
    catalog: Catalog,
    pages: DataFrame,
    cfg: PipelineConfig,
    lineage: LineageLog,
    run_id: str,
    *,
    excluded_ips: DataFrame | None = None,
    resume: bool = True,
    days: list[str] | None = None,
) -> list[str]:
    """Pages -> ``reduced`` (day-partitioned) + ``errors`` side-output.

    Returns the list of day partitions processed this run.

    ``days``: explicit day work list (partition metadata on an Iceberg /
    day-partitioned source — the at-scale path).  When None it is derived
    from min/max over ``warc_ts`` via :func:`discover_days`, one
    column-pruned pass over that column.  Either way the full-width pages
    input is scanned exactly once, by the parse pass, and the per-day
    rows_in lineage metric rides that pass via ``observe()`` instead of
    a pre-scan.
    """
    day = cfg.day_col
    all_days = discover_days(pages, "warc_ts") if days is None else sorted(days)
    if cfg.excluded_years:
        all_days = [d for d in all_days if int(d[:4]) not in cfg.excluded_years]
    pages = pages.withColumn(day, F.date_format("warc_ts", "yyyy-MM-dd"))
    days = lineage.pending("reduce", all_days) if resume else all_days
    if not days:
        return []
    # A months-long backfill is processed in <=64-day chunks.  Each
    # Observation carries one metric expression per day, and metrics
    # ride every task-completion event back to the driver, so the list
    # must stay bounded — but the per-day rows_in lineage must survive
    # exactly the large-backfill scenario the pipeline targets.  Batching
    # the work list (one write per chunk, each riding its own
    # Observation) keeps both, instead of silently recording
    # rows_in=NULL beyond the cap as before.  Chunking also makes the
    # resume grain finer: a crash mid-backfill keeps completed chunks.
    for chunk_start in range(0, len(days), 64):
        _reduce_day_chunk(
            pages,
            days[chunk_start : chunk_start + 64],
            cfg,
            catalog,
            lineage,
            run_id,
            excluded_ips=excluded_ips,
        )
    return days


def _reduce_day_chunk(
    pages: DataFrame,
    days: list[str],
    cfg: PipelineConfig,
    catalog: Catalog,
    lineage: LineageLog,
    run_id: str,
    *,
    excluded_ips: DataFrame | None,
) -> None:
    """One <=64-day reduce batch: a single scan-parse-write action with
    all lineage metrics riding it via observe()."""
    day = cfg.day_col
    # day.isin() wraps warc_ts in date_format, which no source can push
    # down; the added sargable warc_ts range bounds DO reach the scan
    # (PushedFilters: ts >= lo, ts < hi), so parquet row-group stats /
    # Iceberg partition specs prune date-clustered data before the
    # exact day-set filter runs
    lo, hi = min(days), max(days)
    batch = pages.filter(
        (F.col("warc_ts") >= F.lit(lo).cast("date").cast("timestamp"))
        & (F.col("warc_ts") < F.date_add(F.lit(hi).cast("date"), 1).cast("timestamp"))
        & F.col(day).isin(days)
    )

    # rows_in per day rides the SAME (and only) pages scan as the parse
    # itself: an Observation attached before the parse filters counts
    # input rows per day during the write action (the chunked work list
    # keeps the metric list inside Spark's 64-expression observe cap)
    obs_in = Observation(f"reduce_in_{run_id}_{lo}")
    batch = batch.observe(
        obs_in, *[F.count(F.when(F.col(day) == d, 1)).alias(d) for d in days]
    )

    with_header = with_header_and_text(batch)
    # tz metric flag (P9): computed pre-parse, observed below, dropped
    # before the write — a counter, never a filter
    from ..operators.reduce import tz_nonstandard

    with_header = with_header.withColumn("_tz_nonstd", tz_nonstandard(F.col("header")))
    parsed = parse_and_filter_log_lines(
        with_header,
        "header",
        operation_type=cfg.operation_type,
        excluded_ips=excluded_ips,
        key_parents=cfg.key_parents,
        truncate_zarr=cfg.truncate_zarr,
        passthrough=("url", day, "_tz_nonstd"),
    )
    # rows_out per day and the tz-warning count ride the write action
    obs = Observation(f"reduce_out_{run_id}_{lo}")
    metric_cols = [
        F.count(F.when((F.col(day) == d) & (F.col("rclass") == "ok"), 1)).alias(d)
        for d in days
    ]
    metric_cols.append(F.count(F.when(F.col("_tz_nonstd"), 1)).alias("_tz_warn"))
    out = classify_reduced(parsed, day, obs, metric_cols, passthrough=("_tz_nonstd",))
    catalog.write(out, "reduced", partition_by=(day, "rclass"), mode="overwrite")
    tz_warn = obs.get.get("_tz_warn", 0)
    if tz_warn:
        import warnings

        warnings.warn(
            f"{tz_warn} rows carry a non-+0000 timestamp zone "
            "(kept; zone dropped — reference _s3_log_file_reducer.py:265-270)",
            stacklevel=2,
        )
        lineage.record(run_id, "reduce_tz_warn", [(f"ALL:{lo}", None, tz_warn)])
    rows_out = obs.get
    rows_in = obs_in.get
    lineage.record(
        run_id,
        "reduce",
        [(d, rows_in.get(d), rows_out.get(d, 0)) for d in days],
    )


def run_bin_stage(
    spark: SparkSession,
    catalog: Catalog,
    cfg: PipelineConfig,
    lineage: LineageLog,
    run_id: str,
    *,
    resume: bool = True,
) -> list[str]:
    """``reduced`` -> ``binned`` partitioned by (key_parent, key_shard, day).

    Day partitions committed by reduce but not yet binned are processed;
    the dynamic day overwrite makes re-runs idempotent (replaces the
    reference's started/completed two-phase files).
    """
    day = cfg.day_col
    reduce_rows = lineage.stage_rows_out("reduce")
    reduce_done = sorted(reduce_rows)
    days = lineage.pending("bin", reduce_done) if resume else reduce_done
    if cfg.file_limit is not None:
        # reference file_limit: cap the work one bin run consumes; the
        # remainder stays pending and the next run picks it up (resume)
        days = days[: cfg.file_limit]
    if not days:
        return []
    # `day` is a partition column of `reduced` — it reads back for free,
    # no re-derivation from the timestamp
    reduced = read_reduced(catalog).filter(F.col(day).isin(days))
    binned = route_binned(
        reduced, salt_buckets=cfg.salt_buckets, extra_cluster_cols=(day,)
    )
    catalog.write(binned, "binned", partition_by=(day, "key_parent"), mode="overwrite")
    # routing drops no rows, so binned rows/day == reduce's committed
    # rows_out/day — taken from the lineage table (tiny) instead of a
    # full re-scan of the binned table we just wrote
    lineage.record(
        run_id,
        "bin",
        [(d, reduce_rows.get(d), reduce_rows.get(d)) for d in days],
    )
    return days


def thread_inheritor(spark: SparkSession):
    """A wrapper for pool-thread callables that copies the calling
    thread's Spark local properties (job group, description) and the
    session's job tags into the thread that runs them.

    In pinned-thread mode (the default; each Python thread has its own
    JVM thread) plain pool threads start with neither, so this is the
    session form of ``inheritable_thread_target``: its callable form
    drops the tags and warns about it.  Unpinned, Python threads share
    JVM threads and there is nothing to copy, so the wrapper is the
    identity (the session form would return the session itself)."""
    from py4j.clientserver import ClientServer
    from pyspark import SparkContext, inheritable_thread_target

    if isinstance(SparkContext._gateway, ClientServer):
        return inheritable_thread_target(spark)
    return lambda f: f


def run_map_stage(
    spark: SparkSession,
    catalog: Catalog,
    cfg: PipelineConfig,
    lineage: LineageLog,
    run_id: str,
    *,
    assets: DataFrame,
    ip_region_cache: DataFrame,
    cidr_ranges: DataFrame,
    geo_fallback: DataFrame,
) -> None:
    """``binned`` x dims -> per-asset mapped logs + version/dandiset summaries.

    Aggregates are full recomputes over the binned table (they must
    reflect every committed day); the heavy lifting is partial+final
    hash aggregation, all joins broadcast.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Observation

    if cfg.dandiset_limit is not None:
        # reference dandiset_limit: map only the first N dandisets
        # (sorted).  The asset table is a dimension, so the distinct id
        # list is tiny and driver-side by design.
        ids = [
            r["dandiset_id"]
            for r in assets.select("dandiset_id")
            .distinct()
            .orderBy("dandiset_id")
            .limit(cfg.dandiset_limit)
            .collect()
        ]
        assets = assets.filter(F.col("dandiset_id").isin(ids))

    binned = catalog.read("binned")
    # the enrich chain (hash + broadcast joins over the full fact) feeds
    # SEVEN sink actions below; persist computes it once and spills to
    # local disk at scale — without it every summary re-scans the binned
    # table and re-runs the joins (measured 33s -> ~8s at 5k docs).
    # AQE sizes the shuffles inside the cached plan from the data, as
    # in any other (session.get_spark: canChangeCachedPlanOutputPartitioning)
    enriched = enrich_with_region(
        binned, ip_region_cache, cidr_ranges, geo_fallback, salt=cfg.ip_hash_salt
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        activity = join_assets(enriched, assets)

        obs = Observation(f"mapped_rows_{run_id}")
        mapped = mapped_per_asset(
            activity, skew_bucket=cfg.mapped_skew_bucket
        ).observe(obs, F.count(F.lit(1)).alias("n"))

        # THREE independent heavy actions run as CONCURRENT jobs (guide
        # §2.6): the mapped-per-asset write and the two grouping-sets
        # summary aggregations (each eagerly localCheckpoints inside
        # _grouped_summaries).  All read the persisted enriched fact —
        # block-level cache locking means whichever job touches a
        # partition first computes it and the others wait, so the
        # persist is still computed once.  Serially each action pays
        # its own full schedule/commit latency, the serial floor that
        # caps N->4N scaling efficiency.  Every callable is wrapped by
        # `inherit` so that pool threads carry the caller's job group,
        # description and job tags.
        from concurrent.futures import ThreadPoolExecutor

        inherit = thread_inheritor(spark)

        with ThreadPoolExecutor(max_workers=3) as pool:
            f_mapped = pool.submit(
                inherit(catalog.write),
                mapped,
                "mapped_per_asset",
                partition_by=("dandiset_id", "version_id"),
            )
            f_ver = pool.submit(inherit(version_summaries), activity)
            f_dand = pool.submit(inherit(dandiset_summaries), enriched, assets)
            f_mapped.result()
            sinks = [
                (f"version_summary_{name}", df)
                for name, df in f_ver.result().items()
            ] + [
                (f"dandiset_summary_{name}", df)
                for name, df in f_dand.result().items()
            ]

        # the six summary sinks each sort checkpointed, dimension-sized
        # rows in one partition and write one file: one job per sink,
        # still submitted concurrently
        with ThreadPoolExecutor(max_workers=len(sinks)) as pool:
            futures = [pool.submit(inherit(catalog.write), df, name) for name, df in sinks]
            for f in futures:
                f.result()

        # row count observed during the mapped write — no re-read
        lineage.record(run_id, "map", [("ALL", None, obs.get["n"])])
    finally:
        enriched.unpersist()


def run_pipeline(
    spark: SparkSession,
    catalog: Catalog,
    pages: DataFrame,
    dims: dict[str, DataFrame],
    cfg: PipelineConfig | None = None,
    run_id: str = "run-0",
    *,
    resume: bool = True,
) -> LineageLog:
    cfg = cfg or PipelineConfig()
    lineage = LineageLog(catalog)
    run_reduce_stage(
        spark,
        catalog,
        pages,
        cfg,
        lineage,
        run_id,
        excluded_ips=dims.get("excluded_ips"),
        resume=resume,
    )
    run_bin_stage(spark, catalog, cfg, lineage, run_id, resume=resume)
    run_map_stage(
        spark,
        catalog,
        cfg,
        lineage,
        run_id,
        assets=dims["assets"],
        ip_region_cache=dims["ip_region_cache"],
        cidr_ranges=dims["cidr_ranges"],
        geo_fallback=dims["geo_fallback"],
    )
    return lineage
