"""Rolling z-score anomaly detection over a keyed event stream.

The monitoring query a log-pipeline operator runs on the reference's
per-asset activity counts (`_get_summary_dataframes` materializes
per-asset by-day totals; "which day is anomalous for this asset?" is
the next question).  Flags a (key, day) whose count deviates from the
key's own trailing baseline by more than 3 standard deviations.

Formulation — two hash aggregates and one window, no Python:

1. pre-aggregate to (key, day, count): bounds every downstream row
   count by keys x days regardless of raw event volume, so the window
   partition for even the hottest key holds at most ``days`` rows;
2. trailing window ``ROWS BETWEEN k PRECEDING AND 1 PRECEDING``
   (strictly before today — today's value must not contaminate its
   own baseline) computes the baseline mean and POPULATION variance
   from running sums (``avg(x)``, ``avg(x*x) - mean^2``), a fixed
   left-to-right frame order shared by both engines;
3. z = (count - mean) / stddev, NULL while the baseline has fewer
   than ``min_history`` days or zero variance (a constant baseline
   makes every deviation infinitely surprising; callers opt into that
   via ``min_history=1`` plus their own flat-baseline rule).

Scale: the only full-width shuffle is the (key, day) pre-aggregate,
which combines map-side; the window re-uses that partitioning (one
exchange on key).  100 TB of raw events with 10^8 keys x 365 days is
a ~4 x 10^10-row window input — trivially partition-parallel since
frames never cross keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def rolling_anomaly(
    events: DataFrame,
    *,
    key_col: str = "event_type",
    ts_col: str = "ts",
    window_days: int = 7,
    min_history: int = 3,
) -> DataFrame:
    """Per (key, day) request counts with trailing z-score + flag.

    Returns ``(key, day, n_events, baseline_mean, baseline_std, z,
    is_anomaly)`` where the baseline covers the ``window_days`` days
    strictly preceding ``day`` (rows present in the data; silent days
    are absent rows, matching the reference's sparse by-day tables).
    """
    if window_days < 1:
        raise ValueError(f"window_days must be >= 1, got {window_days}")
    # day as a yyyy-MM-dd STRING (the engine-portable date form used
    # across the oracle surface; lexical order == date order)
    daily = events.groupBy(
        F.col(key_col).alias("key"),
        F.date_format(ts_col, "yyyy-MM-dd").alias("day"),
    ).agg(F.count(F.lit(1)).alias("n_events"))

    w = (
        Window.partitionBy("key")
        .orderBy("day")
        .rowsBetween(-window_days, -1)
    )
    x = F.col("n_events").cast("double")
    mean = F.avg(x).over(w)
    # population variance from running sums; clamp the tiny negative
    # float residue a (avg(x^2) - mean^2) cancellation can leave
    var = F.greatest(F.avg(x * x).over(w) - mean * mean, F.lit(0.0))
    std = F.sqrt(var)
    hist = F.count(x).over(w)
    z = F.when(
        (hist >= min_history) & (std > 0),
        (x - mean) / std,
    )
    return daily.select(
        "key",
        "day",
        "n_events",
        F.when(hist >= min_history, F.round(mean, 4)).alias(
            "baseline_mean"
        ),
        F.when(hist >= min_history, F.round(std, 4)).alias(
            "baseline_std"
        ),
        F.round(z, 4).alias("z"),
        F.coalesce(F.abs(z) > 3.0, F.lit(False)).alias(
            "is_anomaly"
        ),
    )


def burst_detect(
    events: DataFrame,
    *,
    window_seconds: int = 3600,
    threshold: int = 20,
) -> DataFrame:
    """Sliding-window rate-limit / burst detection: flag every event
    whose key produced at least ``threshold`` events in the trailing
    ``window_seconds`` (inclusive of the event itself) — the abuse /
    scraper / runaway-client query every access-log pipeline runs.

    EXACT event-time semantics via a value-based RANGE frame (``RANGE
    BETWEEN W PRECEDING AND CURRENT ROW`` over microsecond epochs), not
    a tumbling-bucket approximation: a burst straddling a bucket edge
    cannot hide.  Timestamp ties are peers — the frame is value-based,
    so all same-microsecond events see the same trailing count in any
    engine and the result is order-stable / hash-comparable.

    Returns flagged events only: ``(user_id, event_id, ts,
    trailing_count)``.

    Scale: ONE exchange hash-partitioned on the key; each key's
    timeline sorts within its partition and the trailing count is a
    streaming frame (no buffering beyond the window).  Keys are
    plentiful in access logs (IPs/users), so partition parallelism
    holds; a single pathological hot key serializes only its own
    timeline — the same documented trade as ``asof_join``, with the
    same two-phase bucket escape hatch if a workload ever needs it.
    """
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(ts_us)
        .rangeBetween(-int(window_seconds) * 1_000_000, 0)
    )
    return (
        events.select(
            F.col("user_id"),
            F.col("event_id"),
            F.col("ts"),
            F.count(F.lit(1)).over(w).alias("trailing_count"),
        )
        .filter(F.col("trailing_count") >= threshold)
    )
