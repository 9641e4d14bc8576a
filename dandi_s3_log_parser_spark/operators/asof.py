"""As-of (most-recent-at-or-before) join, Spark-first.

Spark has no ASOF JOIN operator (pandas ``merge_asof`` / DuckDB
``ASOF JOIN`` / kdb ``aj`` territory), but its semantics decompose into
existing DataFrame ops with exactly ONE shuffle: union the fact and
dimension rows on the join key, sort each key's timeline once, and
carry the latest dimension values forward with ``last(ignorenulls)``
over a running window.  No Python in the hot path, no per-row UDF, no
range-explosion cross join.

Scale shape (the 100 TB argument):

* One exchange total — both inputs hash-partition on ``key`` and the
  per-partition sort handles the timeline; an equivalent
  window-function-free formulation (theta-join ``l.key = r.key AND
  l.ts >= r.ts`` + max-per-event) would explode to |events| x
  |snapshots per key| intermediate rows before aggregating them away.
* Map-side width: dimension rows travel with NULL fact columns and
  vice versa, so the exchanged row is the width of the OUTPUT row, once.
* Skew: a key's timeline is processed sequentially by one task — the
  right model when keys are plentiful (users, domains, instruments).
  For a pathological single hot key, the bucketed carry-forward
  variant applies (rank within (key, coarse ts bucket), prefix the
  tiny per-bucket "last value" table, broadcast it back — the same
  two-phase trick ``aggregate.mapped_per_asset`` uses); not
  implemented until a workload needs it.

Semantics match DuckDB ``ASOF LEFT JOIN`` (the oracle for the
registered query): for each left row, the right row with the greatest
``right_ts <= left_ts`` for the same key; ties on the timestamp match
(inclusive); left rows with no earlier right row keep NULL values;
NULL keys never match (SQL equality semantics), which the window path
must enforce explicitly because ``partitionBy`` groups NULLs together.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """Left as-of join: attach each ``value_cols`` entry from the
    latest ``right`` row whose ``right_ts <= left_ts`` per ``key``.

    ``right`` must be unique per ``(key, right_ts)`` — with duplicates
    the carried row among equal timestamps is nondeterministic (same
    contract as pandas ``merge_asof``).  ``tolerance_seconds`` NULLs
    the carried values when the match is staler than the bound
    (pandas ``merge_asof(tolerance=...)`` semantics; DuckDB ASOF has
    no tolerance — keep it None for oracle-compared plans).
    """
    overlap = set(value_cols) & set(left.columns)
    if overlap:
        raise ValueError(f"value_cols collide with left columns: {overlap}")

    left_cols = left.columns
    carried_ts = "_asof_right_ts"
    # one relation, two row kinds: fact rows (tag 1) carry NULL dim
    # values, dim rows (tag 0) carry NULL fact columns.  tag orders a
    # same-timestamp dim row BEFORE the fact row so the inclusive
    # (<=) match works without a second pass.
    lhs = left.select(
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_tag"),
        *[F.col(c) for c in left_cols],
        *[F.lit(None).alias(c) for c in value_cols],
        F.lit(None).cast("timestamp").alias(carried_ts),
    )
    rhs = right.select(
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_tag"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_cols],
        *[F.col(c) for c in value_cols],
        F.col(right_ts).alias(carried_ts),
    )
    w = (
        Window.partitionBy("_k")
        .orderBy("_ts", "_tag")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = [carried_ts, *value_cols]
    out = rhs.unionByName(lhs).select(
        *left_cols,
        "_k",
        "_tag",
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in carried],
    )
    stale = F.lit(False)
    if tolerance_seconds is not None:
        stale = (
            F.unix_timestamp(F.col(left_ts))
            - F.unix_timestamp(F.col(carried_ts))
        ) > tolerance_seconds
    no_match = F.col("_k").isNull() | stale
    return out.filter(F.col("_tag") == 1).select(
        *left_cols,
        *[
            F.when(no_match, F.lit(None)).otherwise(F.col(c)).alias(c)
            for c in value_cols
        ],
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    *,
    key_col: str | None = None,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Interval-overlap join without the cross-join trap.

    Returns one row per pair of CLOSED intervals that overlap
    (``l.start <= r.end AND r.start <= l.end``), optionally restricted
    to equal ``key_col``: ``(key?, l_id, r_id, overlap_start,
    overlap_end)``.  NULL keys/bounds and invalid intervals
    (``end < start``) never match.

    Spark has no native interval join; the naive theta-join plan is a
    BroadcastNestedLoop/cartesian that dies at scale.  This is the
    bucketized formulation every large engine uses under the hood:

    * each interval explodes into the coarse time buckets it spans
      (``sequence(floor(start/b), floor(end/b))``) — narrow rows only
      (key, id, start, end, bucket), never payload columns;
    * candidates meet in an EQUI-join on (key, bucket) — hash join,
      AQE-eligible, no nested loop;
    * the exact overlap predicate filters false bucket-neighbors;
    * each true pair is emitted EXACTLY ONCE — only in the bucket
      containing ``greatest(l.start, r.start)`` (the overlap start,
      which both sides' explosions are guaranteed to cover) — so no
      distinct/dedup shuffle is needed at all.

    Pick ``bucket_seconds`` near the typical interval length: the
    explode factor is ``1 + duration/bucket`` per row, and the
    candidate fan-in per bucket is what the equi-join hashes.  The
    output is id pairs + overlap span; callers re-join payloads by id,
    keeping the shuffled rows narrow at any corpus size.
    """
    if int(bucket_seconds) <= 0:
        raise ValueError("bucket_seconds must be positive")
    # exact microsecond arithmetic: unix_timestamp would TRUNCATE
    # sub-second timestamps and disagree with an exact engine at
    # overlap boundaries; micros are lossless for timestamp columns
    b = int(bucket_seconds) * 1_000_000

    def _prep(df: DataFrame, side: str) -> DataFrame:
        # cast: parquet columns are commonly TIMESTAMP_NTZ, which
        # unix_micros rejects; under the engine's fixed UTC session tz
        # the cast is value-preserving
        s = F.col("start").cast("timestamp")
        e = F.col("end").cast("timestamp")
        cols = [
            F.col("id").alias(f"{side}_id"),
            F.unix_micros(s).alias(f"{side}_s"),
            F.unix_micros(e).alias(f"{side}_e"),
        ]
        if key_col is not None:
            cols.insert(0, F.col(key_col).alias(f"{side}_k"))
        out = df.filter(
            s.isNotNull() & e.isNotNull() & (e >= s)
        ).select(*cols)
        return out.withColumn(
            "_bkt",
            F.explode(
                F.sequence(
                    F.floor(F.col(f"{side}_s") / b),
                    F.floor(F.col(f"{side}_e") / b),
                )
            ),
        )

    l = _prep(left, "l")
    r = _prep(right, "r")
    on = [l["_bkt"] == r["_bkt"]]
    if key_col is not None:
        on.append(l["l_k"] == r["r_k"])
    ov_s = F.greatest(F.col("l_s"), F.col("r_s"))
    ov_e = F.least(F.col("l_e"), F.col("r_e"))
    joined = (
        l.join(r, on[0] if len(on) == 1 else on[0] & on[1])
        .filter(
            (F.col("l_s") <= F.col("r_e"))
            & (F.col("r_s") <= F.col("l_e"))
            # emit-once: only the bucket containing the overlap start
            & (l["_bkt"] == F.floor(ov_s / b))
        )
    )
    out_cols = []
    if key_col is not None:
        out_cols.append(F.col("l_k").alias(key_col))
    out_cols += [
        "l_id",
        "r_id",
        F.timestamp_micros(ov_s).alias("overlap_start"),
        F.timestamp_micros(ov_e).alias("overlap_end"),
    ]
    return joined.select(*out_cols)
