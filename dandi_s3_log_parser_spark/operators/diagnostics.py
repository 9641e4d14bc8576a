"""Pre-flight join diagnostics: exact join-size and skew attribution.

The operational guard a 100 TB pipeline runs BEFORE an expensive
equi-join: how many rows will ``A JOIN B ON key`` produce, and which
keys dominate that output?  A single hot key (NULL-ish sentinel, empty
string, a bot IP) can turn a tractable join into a cluster-killer; this
report finds it for the cost of two word-count aggregates instead of
the join itself.

The inner-join size decomposes exactly: ``|A ⋈ B| = Σ_key cA(key) *
cB(key)``.  Both per-key count tables are narrow (key, long) with
map-side combine, their equi-join touches only keys present on both
sides, and the global total is one scalar aggregate — the full-width
payload rows of A and B are never read past the key column (column
pruning) and never shuffled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def join_size_estimate(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    *,
    topn: int = 10,
) -> DataFrame:
    """Exact inner-equi-join cardinality + the ``topn`` keys that
    contribute most output rows.

    Returns ``topn + 1`` rows: one ``key = NULL`` summary row
    (``contrib`` = total join output rows, ``share = 1.0``,
    ``cum_share`` NULL) plus the top contributors by ``contrib =
    count_left * count_right`` (ties to key ascending), each with its
    ``share`` of the total and the running ``cum_share`` — the number
    to read before deciding to salt.  NULL keys never join, so both
    count tables drop them (matching inner-join semantics exactly).

    Scale shape: two key-keyed aggregates (narrow, partially
    aggregated), one equi-join of the two count tables (AQE
    broadcasts the smaller), a scalar total via broadcast cross join,
    and a ``topn``-sized TakeOrdered — the window for ``cum_share``
    runs over the ``topn``-row result only.

    Eager materialization: the joined count table is
    ``localCheckpoint``-ed when this function is CALLED, so building
    the result runs both count aggregates and their join even if it is
    never consumed.  Local checkpoint blocks live only on the executor
    that computed them (not replicated, no lineage kept): if that
    executor is lost before the result is consumed, the query fails
    instead of recomputing the counts.
    """
    if topn < 1:
        raise ValueError("topn must be >= 1")
    # keys are canonicalized to string up front so the tie-break order
    # (and the oracle's) is type-independent
    ca = (
        left.select(F.col(key_col).cast("string").alias("key"))
        .filter(F.col("key").isNotNull())
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("_ca"))
    )
    cb = (
        right.select(F.col(key_col).cast("string").alias("key"))
        .filter(F.col("key").isNotNull())
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("_cb"))
    )
    # materialized ONCE: `total` (scalar aggregate) and `top`
    # (TakeOrdered) both consume contrib, and without the barrier the
    # two key-keyed corpus aggregates and their join are evaluated once
    # per consumer — the whole heavy path twice.  The checkpointed rows
    # are distinct-join-key-sized (key, long), the narrow count table.
    contrib = (
        ca.join(cb, "key")
        .select("key", (F.col("_ca") * F.col("_cb")).alias("contrib"))
        .localCheckpoint()
    )
    total = contrib.agg(F.sum("contrib").alias("_total"))
    top = (
        contrib.crossJoin(F.broadcast(total))
        .orderBy(F.desc("contrib"), F.asc("key"))
        .limit(topn)
        .select(
            "key",
            F.col("contrib").cast("long").alias("contrib"),
            F.round(F.col("contrib") / F.col("_total"), 6).alias(
                "share"
            ),
        )
    )
    # cum_share WITHOUT a window: an unpartitioned running-sum window
    # is the single-task pattern this repo's plan audit bans, so the
    # running sum is a triangle self-join over the topn-row table
    # (topn^2 tiny rows; both sides broadcast)
    pred = (F.col("o.contrib") > F.col("t.contrib")) | (
        (F.col("o.contrib") == F.col("t.contrib"))
        & (F.col("o.key") <= F.col("t.key"))
    )
    top = (
        top.alias("t")
        .join(F.broadcast(top.alias("o")), pred)
        .groupBy("t.key", "t.contrib", "t.share")
        .agg(F.round(F.sum("o.share"), 6).alias("cum_share"))
        .select(
            F.col("t.key").alias("key"),
            F.col("t.contrib").alias("contrib"),
            F.col("t.share").alias("share"),
            "cum_share",
        )
    )
    summary = total.select(
        F.lit(None).cast("string").alias("key"),
        F.coalesce(F.col("_total"), F.lit(0)).cast("long").alias(
            "contrib"
        ),
        F.lit(1.0).alias("share"),
        F.lit(None).cast("double").alias("cum_share"),
    )
    return summary.unionByName(
        top.select("key", "contrib", "share", "cum_share")
    )
