"""Gap-based sessionization: group a key's event stream into sessions
separated by idle gaps.

The classic log-analytics operator over the reference's request stream
(the reference's per-asset activity logs are exactly per-key ordered
event sequences — ``_map_binned_s3_logs_to_dandisets.py`` materializes
them; sessionization is the aggregation a traffic analyst runs on them
next).  Also the batch twin of Structured Streaming's session windows:
the same (key, session) grouping computed incrementally by
``F.session_window`` shows up in ``streaming/stream_aggregate.py``.

Formulation (pure window functions, no Python, no self-join):

1. ``lag(ts) over (partition by key order by ts)``;
2. new-session flag = gap > threshold (interval comparison — exact
   microsecond arithmetic, identical across engines);
3. session ordinal = running sum of flags;
4. one hash aggregate keyed (key, session ordinal).

Scale: the window shuffle partitions by key — the same partitioning the
per-key sinks already need, so on the real pipeline this reuses the
route exchange.  Skewed hot keys funnel one task each; the two-phase
time-bucketed rank implemented in ``aggregate.mapped_per_asset``
applies unchanged (session flags only need lag(1), which the bucket
boundary provides via the previous bucket's max ts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    skew_bucket: str | None = "day",
) -> DataFrame:
    """Assign each event a per-key session ordinal (0-based).

    Adds ``session_id``; keeps all input columns.

    Skew design (same shape as ``aggregate.mapped_per_asset``): a
    single per-key window funnels a hot key's whole history into one
    task.  With ``skew_bucket`` set, the computation is two-phase over
    ``date_trunc`` buckets:

    1. per (key, bucket): lag within the bucket; the FIRST row of each
       bucket compares against the previous non-empty bucket's max ts,
       carried over on the tiny (key, bucket, max_ts, flag_count)
       side table;
    2. session ordinal = per-bucket running flag count + the running
       sum of prior buckets' flag totals (offsets joined back without
       a broadcast hint — the fact side is already partitioned on the
       join key).

    Buckets partition event-time order by construction, so the result
    is row-identical to the single-window formulation (A/B-tested).
    ``skew_bucket=None`` keeps the one-window path.
    """
    gap = F.expr(f"INTERVAL {int(gap_minutes)} MINUTES")
    if skew_bucket is None:
        w = Window.partitionBy(key_col).orderBy(ts_col)
        prev = F.lag(ts_col).over(w)
        new_sess = (prev.isNull() | (F.col(ts_col) > prev + gap)).cast("long")
        return events.withColumn(
            "session_id",
            F.sum(new_sess).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            - 1,
        )

    bucketed = events.withColumn("_bkt", F.date_trunc(skew_bucket, F.col(ts_col)))
    w_in = Window.partitionBy(key_col, "_bkt").orderBy(ts_col)
    prev_in = F.lag(ts_col).over(w_in)
    # rows after the first in their bucket resolve locally; first rows
    # get a placeholder and resolve against the carried-over prev-bucket
    # max ts below
    flagged = bucketed.withColumn("_prev_in", prev_in)
    # tiny per-(key, bucket) table: last event ts + how many sessions
    # OPEN within the bucket given a fully-local view (first row counts
    # as a new session iff its local prev is null — corrected later)
    per_bkt = (
        bucketed.groupBy(key_col, "_bkt")
        .agg(F.max(ts_col).alias("_last_ts"))
        .withColumn(
            "_prev_last",
            F.lag("_last_ts").over(Window.partitionBy(key_col).orderBy("_bkt")),
        )
        .drop("_last_ts")
    )
    joined = flagged.join(per_bkt, on=[key_col, "_bkt"])
    prev_eff = F.coalesce(F.col("_prev_in"), F.col("_prev_last"))
    new_sess = (prev_eff.isNull() | (F.col(ts_col) > prev_eff + gap)).cast("long")
    with_flag = joined.withColumn("_flag", new_sess)
    # per-bucket running flag sum + cross-bucket offsets (tiny table)
    local_cum = F.sum("_flag").over(
        w_in.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged2 = with_flag.withColumn("_lcum", local_cum)
    offsets = (
        with_flag.groupBy(key_col, "_bkt")
        .agg(F.sum("_flag").alias("_bflags"))
        .withColumn(
            "_off",
            F.coalesce(
                F.sum("_bflags").over(
                    Window.partitionBy(key_col)
                    .orderBy("_bkt")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .drop("_bflags")
    )
    return (
        flagged2.join(offsets, on=[key_col, "_bkt"])
        .withColumn("session_id", F.col("_off") + F.col("_lcum") - 1)
        .select(*events.columns, "session_id")
    )


def session_stats(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
) -> DataFrame:
    """One row per (key, session): event count, span, start/end.

    Timestamps are emitted as microsecond ISO strings so downstream
    sinks (and cross-engine oracles) are byte-stable.
    """
    s = sessionize(
        events, key_col=key_col, ts_col=ts_col, gap_minutes=gap_minutes
    )
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min(ts_col), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias(
            "session_start"
        ),
        F.date_format(F.max(ts_col), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias(
            "session_end"
        ),
    ]
    return s.groupBy(key_col, "session_id").agg(*aggs)


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
