"""Structured Streaming variant of the reduce stage.

The reference is batch with file-level incrementality (SURVEY §2.8); the
streaming recast gives exactly-once per-microbatch semantics for a
continuously-landing pages table:

* ``readStream`` file source over the pages directory (on a real
  cluster: ``readStream.format("iceberg")`` for snapshot-incremental);
* the SAME extraction/filter operators as batch (one code path —
  ``parse_and_filter_log_lines`` is stream-safe: no global sorts);
* ``foreachBatch`` fan-out: each microbatch appends day-partitioned
  reduced rows AND error rows through the same Catalog, and records
  per-batch lineage — checkpointing makes restarts resume from the last
  committed batch (replaces the reference's started/completed files).

Error side-channel parity with batch: like ``plans/pipeline.py``'s
reduce stage, kept and error rows land in ONE write under an ``rclass``
partition column (writing them as two actions would re-run the whole
parse chain once per microbatch).  No error line is ever dropped —
reference ``_error_collection.py:7-40`` semantics.  Read the slices
back with :func:`read_stream_reduced` / :func:`read_stream_errors`.

.. warning:: layout break vs the pre-round-3 version.  ``reduced_stream``
   changed from day-partitioned kept-rows-only to (day, ``rclass``)-
   partitioned with added ``url``-nulling / ``parse_status`` columns.  A
   checkpoint or warehouse written by the old layout must NOT be resumed
   with this version: appending the new layout under the old table root
   leaves files both inside and outside ``rclass=...`` directories, and
   Spark's parquet partition discovery fails on the conflicting
   structure.  Start a NEW checkpoint directory and a NEW warehouse (or
   table name) when upgrading across that boundary (ADVICE r3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import PAGES_SCHEMA
from ..functions.text import with_header_and_text
from ..operators.reduce import parse_and_filter_log_lines
from ..plans.lineage import LineageLog
from ..plans.pipeline import PipelineConfig, classify_reduced
from ..sources.tables import Catalog


def read_stream_reduced(catalog: Catalog) -> DataFrame:
    """Kept reduced rows (partition-pruned on rclass='ok')."""
    return catalog.read("reduced_stream").filter(F.col("rclass") == "ok").drop(
        "rclass"
    )


def read_stream_errors(catalog: Catalog) -> DataFrame:
    """Error side-channel rows from the streaming reduce (raw line in
    ``url``, failure class in ``parse_status`` — mirrors batch
    ``read_reduce_errors``)."""
    return (
        catalog.read("reduced_stream")
        .filter(F.col("rclass") == "error")
        .select("url", "parse_status")
    )


def stream_reduce(
    spark: SparkSession,
    pages_dir: str,
    catalog: Catalog,
    checkpoint_dir: str,
    cfg: PipelineConfig | None = None,
    *,
    excluded_ips: DataFrame | None = None,
    available_now: bool = True,
):
    """Start the streaming reduce; returns the StreamingQuery.

    ``available_now=True`` drains everything currently in the source and
    stops (batch-incremental mode); False runs continuously.
    """
    cfg = cfg or PipelineConfig()
    lineage = LineageLog(catalog, "stream_lineage")

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", "64")
        .parquet(pages_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        day = cfg.day_col
        batch = batch_df.withColumn(day, F.date_format("warc_ts", "yyyy-MM-dd"))
        # per-batch lineage counts ride the ONE write action via
        # observe() — a count() on batch/reduced would re-run the whole
        # parse chain once per metric, tripling the per-microbatch work
        obs_in = Observation(f"stream_in_{batch_id}")
        batch = batch.observe(obs_in, F.count(F.lit(1)).alias("n"))
        parsed = parse_and_filter_log_lines(
            with_header_and_text(batch),
            "header",
            operation_type=cfg.operation_type,
            excluded_ips=excluded_ips,
            key_parents=cfg.key_parents,
            truncate_zarr=cfg.truncate_zarr,
            passthrough=("url", day),
        )
        # ONE scan, ONE write (batch-reduce parity): ok + error rows
        # under an rclass partition column, kept/error counts observed
        # on the write itself
        obs_out = Observation(f"stream_out_{batch_id}")
        out = classify_reduced(
            parsed,
            day,
            obs_out,
            [
                F.count(F.when(F.col("rclass") == "ok", 1)).alias("n_ok"),
                F.count(F.when(F.col("rclass") == "error", 1)).alias("n_err"),
            ],
        )
        mode = "append" if catalog.exists("reduced_stream") else "overwrite"
        catalog.write(
            out, "reduced_stream", partition_by=(day, "rclass"), mode=mode
        )
        metrics = obs_out.get
        lineage.record(
            f"stream-batch-{batch_id}",
            "stream_reduce",
            [(str(batch_id), obs_in.get["n"], metrics["n_ok"])],
        )
        if metrics["n_err"]:
            lineage.record(
                f"stream-batch-{batch_id}",
                "stream_reduce_errors",
                [(str(batch_id), None, metrics["n_err"])],
            )

    writer = (
        stream.writeStream.option("checkpointLocation", checkpoint_dir)
        .foreachBatch(process_batch)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
