"""One-command streaming ingest -> curate path (CLI verb ``stream-curate``).

The batch curation funnel (``operators.curation.curation_funnel``,
reference analog: the reduce stage's filter cascade,
_s3_log_file_reducer.py:129-214) recast as a continuous query over a
landing ``documents`` directory:

    readStream(parquet) -> lang-ID + quality score (native exprs)
        -> allowlist/threshold filter
        -> cross-batch first-seen text dedup (checkpointed state)
        -> parquet sink (kept docs) with exactly-once file commits

Exactly-once across restarts comes from two Structured Streaming
mechanisms working together and is proven by
``tests/test_stream_curate_cli.py``:

* the **file-source offset log** in the checkpoint records which input
  files each microbatch consumed, so a restarted query never re-reads
  a committed batch;
* the **parquet sink's metadata log** records which output files each
  batch committed, so a batch replayed after a mid-write kill
  overwrites its own output slot instead of appending twice.

The first-seen dedup state (digest set per source) lives in the
checkpointed state store, so a document seen before a kill is still a
known duplicate after the restart.

Scale notes: the filter/scoring stage is stateless and narrow (no
shuffle); the only exchange is the dedup's groupBy on ``source`` —
state is bounded by 1,000,000 digests per source and fails
open past the cap (see ``stream_dedup`` module docs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DOCS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def curate_stream(
    stream: DataFrame,
    *,
    min_score: float = 0.2,
    langs: tuple[str, ...] = ("en",),
) -> DataFrame:
    """Transform a streaming documents DataFrame into the kept set.

    Pure transformation (no sink): detected language + quality score are
    attached as ``lang_detected`` / ``score`` columns, rows failing the
    allowlist/threshold are dropped (NULL-safe: a NULL text scores as
    unknown/0 and is dropped, matching the batch funnel's
    coalesce-to-FALSE rule), then cross-batch first-seen dedup on the
    text keyed by source.
    """
    from ..functions.text import lang_id, quality_score
    from .stream_dedup import stream_first_seen

    scored = stream.select(
        "*",
        lang_id(F.col("text")).alias("lang_detected"),
        F.round(quality_score(F.col("text")), 6).alias("score"),
    )
    kept = scored.filter(
        F.coalesce(F.col("lang_detected").isin(*langs), F.lit(False))
        & F.coalesce(F.col("score") >= F.lit(min_score), F.lit(False))
    )
    return stream_first_seen(kept, key_col="source", dedup_col="text")


def stream_curate(
    spark: SparkSession,
    docs_dir: str,
    out_dir: str,
    checkpoint: str,
    *,
    min_score: float = 0.2,
    langs: tuple[str, ...] = ("en",),
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Start the streaming curate query; returns the StreamingQuery.

    ``available_now=True`` drains everything currently landed and
    stops (the batch-backfill mode); ``False`` keeps following new
    files.  Restart with the same ``checkpoint`` + ``out_dir`` to
    resume exactly-once.
    """
    reader = spark.readStream.schema(DOCS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(docs_dir)
    kept = curate_stream(stream, min_score=min_score, langs=langs)
    writer = (
        kept.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
