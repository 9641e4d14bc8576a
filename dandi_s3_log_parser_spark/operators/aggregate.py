"""Stage 3b — map binned rows to datasets and aggregate summaries.

Spark-first recast of the reference's triple-nested mapping loop
(``_map_binned_s3_logs_to_dandisets.py:103-259``) into a handful of
DataFrame statements.  Semantics preserved:

* assets with no binned rows are skipped -> **inner** broadcast join
  (``:169-170``);
* per-asset mapped logs carry ``index`` (row_number from 0 ordered by
  timestamp), ``timestamp, bytes_sent, region`` (``:183-193``);
* version-level summaries count a blob once per version it appears in
  (the per-version asset loop);
* dandiset-level summaries count each blob **once** even when shared by
  several versions — the reference accumulates dandiset rollups in
  dicts keyed by blob_id (``:200,206,212``), so version-duplicated
  blobs collapse; asset totals re-key blob->asset_path with the winning
  path (``:238-240``);
* sort orders: by_day ascending date, by_region / by_asset descending
  bytes (``:268,281,293``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def join_assets(binned: DataFrame, assets: DataFrame) -> DataFrame:
    """facts x assets inner broadcast join on object_key == blob_key (J1).

    A blob shared by two versions yields one output row per version —
    matching the reference's per-version asset iteration.
    """
    dim = F.broadcast(
        assets.select("blob_key", "dandiset_id", "version_id", "asset_path")
    )
    return binned.join(dim, binned.object_key == dim.blob_key, "inner").drop("blob_key")


def mapped_per_asset(
    activity: DataFrame, *, skew_bucket: str | None = "hour"
) -> DataFrame:
    """Per-asset activity log with a deterministic 0-based row index
    (row_number over timestamp within asset — SURVEY §2.5).

    Skew design (this is the measured bottleneck, not a hypothetical):
    the output contract is a global per-asset order, and a hot asset
    (the reference's 000108-style dandiset; our synthetic corpus gives
    one zarr key 46% of ALL binned rows) funnels its whole history into
    one window task — a parallelism-independent floor that measured
    ~60 s/pass at 24M pages and capped N→4N scaling efficiency at 0.75.

    Fix: a **two-phase rank**.  Rows are bucketed by ``date_trunc``
    of the timestamp (deterministic — unlike ``repartitionByRange``,
    whose sampled boundaries can differ between the two jobs that
    consume them); phase 1 numbers rows within (asset, bucket), phase 2
    adds per-bucket offsets (a running sum over the tiny (asset,
    bucket, count) table) via a broadcast join.  Time buckets partition
    the sort order by construction — every row in hour h sorts before
    every row in hour h+1, and equal timestamps always share a bucket
    — so ``offset + local_rank`` IS the global row_number.  The hot
    asset's task bound drops from its whole history to its hottest
    hour (tune ``skew_bucket`` to ``"minute"`` at 100x).

    ``skew_bucket=None`` keeps the single-window formulation (useful
    for A/B and for inputs known to be skew-free).
    """
    keys = ["dandiset_id", "version_id", "asset_path"]
    order = ["timestamp", "ip_address", "bytes_sent"]
    out_cols = [
        "dandiset_id",
        "version_id",
        "asset_path",
        F.col("index"),
        F.date_format("timestamp", "yyyy-MM-dd'T'HH:mm:ss").alias("timestamp"),
        "bytes_sent",
        "region",
    ]
    if skew_bucket is None:
        w = Window.partitionBy(*keys).orderBy(*order)
        return activity.withColumn("index", F.row_number().over(w) - 1).select(
            *out_cols
        )

    bucketed = activity.withColumn(
        "_bkt", F.date_trunc(skew_bucket, F.col("timestamp"))
    )
    w_local = Window.partitionBy(*keys, "_bkt").orderBy(*order)
    local = bucketed.withColumn("_rn", F.row_number().over(w_local))
    # tiny side table: one row per (asset, bucket); its shuffle carries
    # counts, not history.  The running sum over buckets is a window on
    # that tiny table.  No broadcast hint on the join back: the window
    # output is already hash-partitioned on (keys, _bkt), so only the
    # offsets side shuffles — and at 10^12 rows the (asset x bucket)
    # table is NOT bounded, so a forced broadcast would be the exact
    # 100x-scale OOM this engine removed from the ip-map join.
    w_off = (
        Window.partitionBy(*keys)
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = (
        bucketed.groupBy(*keys, "_bkt")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .withColumn("_off", F.sum("_cnt").over(w_off) - F.col("_cnt"))
        .drop("_cnt")
    )
    return (
        local.join(offsets, on=keys + ["_bkt"])
        .withColumn("index", (F.col("_off") + F.col("_rn") - 1).cast("int"))
        .select(*out_cols)
    )


def _day(df: DataFrame) -> DataFrame:
    return df.withColumn("date", F.date_format("timestamp", "yyyy-MM-dd"))


# grouping_id() constants for _grouped_summaries: with group columns
# listed as (*keys, date, region, asset_path), bit i (MSB-first) is 1
# when that column is aggregated away — the three single-dimension sets
# always end in the same three low bits regardless of len(keys)
_GID_BY_DAY, _GID_BY_REGION, _GID_BY_ASSET = 3, 5, 6


def _grouped_summaries(a: DataFrame, keys: list[str]) -> dict[str, DataFrame]:
    """by_day / by_region / by_asset in ONE aggregation pass.

    Three separate groupBys would scan the (persisted) fact three
    times and schedule three full agg jobs; GROUPING SETS computes all
    three groupings in a single pass — the combined result is
    dimension-sized, so it is eagerly ``localCheckpoint``-ed and each
    summary is a filter over materialized rows.

    Each summary is sorted inside ONE partition: a dimension-sized
    input gains nothing from a range exchange, and a global
    ``orderBy`` would cost each sink three jobs (range sample, shuffle,
    write).  ``coalesce(1).sortWithinPartitions`` writes one file
    holding the module docstring's total order in one job.
    """
    combined = (
        a.groupingSets(
            [[*keys, "date"], [*keys, "region"], [*keys, "asset_path"]],
            *keys,
            "date",
            "region",
            "asset_path",
        )
        .agg(
            F.sum("bytes_sent").alias("bytes_sent"),
            F.grouping_id().alias("_gid"),
        )
        .localCheckpoint()
    )

    def pick(gid: int, dim: str, *order):
        return (
            combined.filter(F.col("_gid") == gid)
            .select(*keys, dim, "bytes_sent")
            .coalesce(1)
            .sortWithinPartitions(*order)
        )

    return {
        "by_day": pick(_GID_BY_DAY, "date", *keys, "date"),
        "by_region": pick(_GID_BY_REGION, "region", *keys, F.desc("bytes_sent")),
        "by_asset": pick(_GID_BY_ASSET, "asset_path", *keys, F.desc("bytes_sent")),
    }


def version_summaries(activity: DataFrame) -> dict[str, DataFrame]:
    """by_day / by_region / by_asset at (dandiset, version) grain."""
    return _grouped_summaries(_day(activity), ["dandiset_id", "version_id"])


def dandiset_summaries(binned: DataFrame, assets: DataFrame) -> dict[str, DataFrame]:
    """Dandiset-grain rollups at the **distinct blob** grain.

    The reference's dicts keyed by blob_id (``:114-117,200,206,212``)
    mean a blob in N versions counts once; we reproduce that by deduping
    the asset dim to (dandiset_id, blob_key) with the max asset_path as
    the winning name before joining.
    """
    dim = F.broadcast(
        assets.groupBy("dandiset_id", "blob_key").agg(
            F.max("asset_path").alias("asset_path")
        )
    )
    enriched = binned.join(dim, binned.object_key == dim.blob_key, "inner").drop(
        "blob_key"
    )
    return _grouped_summaries(_day(enriched), ["dandiset_id"])
