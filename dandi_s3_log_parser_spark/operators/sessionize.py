"""Gap-based sessionization: group a key's event stream into sessions
separated by idle gaps.

The classic log-analytics operator over the reference's request stream
(the reference's per-asset activity logs are exactly per-key ordered
event sequences — ``_map_binned_s3_logs_to_dandisets.py`` materializes
them; sessionization is the aggregation a traffic analyst runs on them
next).  Built on Spark's own ``F.session_window``, the operator
``streaming/stream_aggregate.stream_session_stats`` runs on a stream.

Formulation (two levels, no Python, no join):

1. ``groupBy(key, date_trunc("day", ts), session_window(ts, gap))``
   finds the sessions inside each (key, day) and aggregates them to one
   row each (count, first and last event);
2. over those per-day sessions, partitioned by key and ordered by
   start, ``lag(end)`` flags a session as new when its start lies more
   than the gap after the previous session's end, a running sum of the
   flags numbers the sessions, and one aggregate keyed (key, session
   ordinal) merges the per-day pieces of a session that crosses
   midnight.

Scale: the first shuffle is hash-partitioned on (key, day), so a hot
key's events spread over its days instead of funnelling into one task;
the per-key window of level 2 only sees one row per per-day session.
The level-2 aggregate reuses the window's key partitioning (no third
shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def session_stats(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
) -> DataFrame:
    """One row per (key, session): ``session_id`` (0-based per key, in
    time order), event count, start/end.

    Two consecutive events of a key share a session when the second
    lies at most ``gap_minutes`` after the first (a gap exactly equal
    to the threshold does not split).  Events with a NULL timestamp
    belong to no session and are dropped (``session_window`` filters
    them).  Timestamps are emitted as microsecond ISO strings so
    downstream sinks (and cross-engine oracles) are byte-stable.
    """
    gap = f"{int(gap_minutes)} minutes"
    per_day = events.groupBy(
        F.col(key_col),
        F.date_trunc("day", ts_col).alias("_day"),
        F.session_window(ts_col, gap).alias("_sw"),
    ).agg(
        F.count(F.lit(1)).alias("_n"),
        F.min(ts_col).alias("_start"),
        F.max(ts_col).alias("_end"),
    )
    w = Window.partitionBy(key_col).orderBy("_start")
    # a key's first session has no previous end: it opens a session
    new_sess = F.coalesce(
        F.col("_start") > F.lag("_end").over(w) + F.expr(f"INTERVAL {gap}"),
        F.lit(True),
    ).cast("long")
    numbered = per_day.withColumn("_new", new_sess).withColumn(
        "session_id",
        F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        - 1,
    )
    iso = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    return numbered.groupBy(key_col, "session_id").agg(
        F.sum("_n").alias("n_events"),
        F.date_format(F.min("_start"), iso).alias("session_start"),
        F.date_format(F.max("_end"), iso).alias("session_end"),
    )


def event_funnel(events: DataFrame, steps: list[str]) -> DataFrame:
    """Ordered-funnel conversion over a keyed event stream: how many
    keys performed step 1, then step 2 STRICTLY AFTER their first
    step 1, then step 3 strictly after that, ... — the conversion
    query every product/log-analytics engine ships next to
    sessionization.

    Semantics: a key converts through step i+1 iff it has an event of
    that type strictly after its EARLIEST qualifying step-i time (the
    standard first-touch funnel; repeats before the prior step don't
    count).  Returns one row per step: ``(step_index, step, keys,
    conversion)`` with conversion = keys / step-1 keys rounded to 4
    (NULL when step 1 matched nobody).

    Scale shape: one key-keyed aggregate per step over a
    filter-pruned scan, chained by key-equi joins — each join's both
    sides are (key, timestamp) narrow rows already partitioned by
    key, and each step's table only shrinks.  No windows, no
    cross-step shuffle wider than the key column.
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    reached = None  # (key, t_i) table for the last completed step
    counts = []
    for i, s in enumerate(steps):
        ev = events.select(
            F.col("user_id").alias("k"),
            F.col("ts").alias("t"),
            F.col("event_type").alias("typ"),
        ).filter(F.col("typ") == s)
        if reached is None:
            reached = ev.groupBy("k").agg(F.min("t").alias("t"))
        else:
            reached = (
                ev.join(reached.withColumnRenamed("t", "_prev"), "k")
                .filter(F.col("t") > F.col("_prev"))
                .groupBy("k")
                .agg(F.min("t").alias("t"))
            )
        counts.append(
            reached.agg(F.count(F.lit(1)).alias("keys")).select(
                F.lit(i + 1).alias("step_index"),
                F.lit(s).alias("step"),
                F.col("keys").cast("long"),
            )
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    # the step-1 denominator rides a 1-row broadcast cross join — NOT
    # an unpartitioned window (the repo-wide plan audit bans those)
    base = counts[0].select(F.col("keys").alias("_first"))
    return (
        out.crossJoin(F.broadcast(base))
        .select(
            "step_index",
            "step",
            "keys",
            F.when(
                F.col("_first") > 0,
                F.round(F.col("keys") / F.col("_first"), 4),
            ).alias("conversion"),
        )
        .orderBy("step_index")
    )
