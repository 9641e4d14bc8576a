"""Streaming windowed aggregations with watermarked late-data handling.

Completes the streaming recast of SURVEY §2.8: ``stream_reduce``
covers the parse/filter stage; this module covers the reference's
*aggregation* stage (``_get_summaries`` per-day binning,
``_map_binned_s3_logs_to_dandisets.py`` per-asset totals) as
continuous queries:

- :func:`stream_windowed_totals` — tumbling event-time windows with a
  watermark: counts/sums per (window, key), emitted append-mode once
  the watermark passes the window end, so late rows inside the
  lateness bound still land in their window and rows later than the
  bound are dropped deterministically (the reference's batch re-run
  semantics, made incremental).
- :func:`stream_session_stats` — ``F.session_window`` gap sessions,
  the streaming twin of ``operators.sessionize.session_stats`` (same
  (key, gap) semantics; the batch operator, ``session_window`` within
  each (key, day) plus a per-key merge across midnight, is the DuckDB-
  oracled one).

Both are pure built-in operators — watermark + window state lives in
the streaming state store, sized by (#open windows x #keys), not by
input rows; nothing here collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_windowed_totals(
    stream: DataFrame,
    *,
    key_col: str | None = None,
    value_col: str | None = None,
    window: str = "1 hour",
) -> DataFrame:
    """Tumbling-window totals over an event-time stream.

    Returns ``(window_start, [key], n [, value_sum])`` — append-mode
    compatible (the 2-hour watermark bounds state and admits late data up
    to that age).
    """
    wm = stream.withWatermark("ts", "2 hours")
    keys = [F.window("ts", window).alias("w")]
    if key_col:
        keys.append(F.col(key_col))
    aggs = [F.count(F.lit(1)).alias("n")]
    if value_col:
        aggs.append(F.sum(value_col).alias("value_sum"))
    out = wm.groupBy(*keys).agg(*aggs)
    cols = [F.col("w.start").alias("window_start")]
    if key_col:
        cols.append(F.col(key_col))
    cols.append(F.col("n"))
    if value_col:
        cols.append(F.col("value_sum"))
    return out.select(*cols)


def stream_session_stats(
    stream: DataFrame,
    *,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Gap-based session windows on a stream (late rows merge into
    their session until the watermark closes it)."""
    wm = stream.withWatermark("ts", watermark)
    return (
        wm.groupBy(F.session_window("ts", gap).alias("sw"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("user_id"),
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )
