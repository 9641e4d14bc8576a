"""Web-graph operators: fixed-iteration PageRank over a host link graph.

The graph-side analytics a crawl pipeline runs on its (src_host ->
dst_host) edge list — rank hosts for crawl prioritization and spam
scoring (Page et al. 1999; the operator every web-corpus stack ships).
The reference has no graph stage; this extends its per-asset activity
aggregation the way the dedup/curation families do (same pattern:
aggregate per key, iterate a narrow fact).

Determinism contract (same discipline as ``kmeans_assign``): every
per-iteration sum that a floating double sum would make partition-order
dependent is an EXACT DECIMAL sum over values pre-rounded to a fixed
grid — decimal addition is associative, so the result is identical
across runs, partitionings, cluster sizes, and engines.  Ranks are
rounded to 8 decimals at the end of every iteration; the DuckDB
oracle unrolls the identical arithmetic.

Scale shape (10^9 hosts, 10^11 edges): per iteration one src-keyed
equi-join (contributions) and one dst-keyed aggregate (map-side
partial) — the classic Pregel message pattern expressed as DataFrame
ops; rank lineage is truncated per round with ``localCheckpoint``
(iterative-plan precedent: ``dedup_clusters``).  The dangling-mass
term rides a broadcast 1-row cross-join into the rank update, so each
iteration costs exactly one eager job (the checkpoint), no driver
collect.
Hub skew (a host with 10^7 in-links) is an aggregation hot key, which
partial aggregation absorbs — contributions combine map-side before
the dst exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(edges: DataFrame, *, iters: int = 4, damping: float = 0.85) -> DataFrame:
    """Fixed-iteration PageRank with dangling-mass redistribution.

    ``rank_{t+1}(v) = (1-d)/N + d * (sum_{u->v} rank_t(u)/outdeg(u)
    + dangling_mass_t/N)`` — dangling nodes (no out-edges) spread
    their rank uniformly, the standard correction that keeps total
    mass at 1.  Self-loops and duplicate edges are dropped first.

    Returns ``(node, rank)`` for every node appearing as src or dst.
    """
    if iters < 0 or not 0.0 < damping < 1.0:
        raise ValueError(
            f"need iters >= 0, 0 < damping < 1; got {iters}, {damping}"
        )
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        # no edges survive self-loop removal: empty graph, empty result
        # (not a divide-by-zero in the 1/N base term)
        return nodes.select(
            "node", F.lit(None).cast("double").alias("rank")
        )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ranks = nodes.select(
        "node", F.round(F.lit(1.0) / F.lit(float(n)), 8).alias("rank")
    )
    base = (1.0 - damping) / n
    for _ in range(iters):
        # dangling mass: ranks are on the 8-decimal grid, so the decimal cast
        # is unambiguous and the sum exact (never a partition-order
        # double sum).  Rides a broadcast 1-row cross-join rather than
        # a driver collect, so each iteration costs ONE eager job (the
        # localCheckpoint), not two — same double value either way.
        dm_df = (
            ranks.join(
                outdeg, ranks["node"] == outdeg["src"], "left_anti"
            )
            .agg(
                F.coalesce(
                    F.sum(F.col("rank").cast("decimal(20,8)")).cast(
                        "double"
                    ),
                    F.lit(0.0),
                ).alias("_dm")
            )
        )
        contrib = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("node"),
                # pre-round the per-edge share to a fixed 12-decimal
                # grid, then sum EXACTLY as decimal
                F.round(F.col("rank") / F.col("deg"), 12)
                .cast("decimal(28,12)")
                .alias("c"),
            )
        )
        s = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = (
            nodes.join(s, "node", "left")
            .crossJoin(F.broadcast(dm_df))
            .select(
                "node",
                F.round(
                    F.lit(base)
                    + F.lit(damping)
                    * (
                        F.coalesce(
                            F.col("s").cast("double"), F.lit(0.0)
                        )
                        + F.col("_dm") / F.lit(float(n))
                    ),
                    8,
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks


def hits(edges: DataFrame, *, iters: int = 4) -> DataFrame:
    """Kleinberg HITS hubs & authorities, fixed iterations,
    sum-normalized — the link-graph complement to :func:`pagerank`
    (hub = links to good content, authority = linked by good hubs; a
    crawl frontier prioritizes high-authority hosts, a spam filter
    flags high-hub/low-authority link farms).

    Per iteration: ``auth(v) = sum over u->v of hub(u)`` then
    normalized to sum 1; ``hub(u) = sum over u->v of auth(v)`` then
    normalized to sum 1 (sum-normalization instead of the classical
    L2: same fixpoint direction, but exactly replayable in SQL —
    sqrt of a sum is not on any decimal grid).  Self-loops and
    duplicate edges are dropped first.  Returns ``(node, hub, auth)``
    for every node appearing as src or dst.

    Determinism contract (mirrors :func:`pagerank`): scores live on an
    8-decimal grid, per-edge contributions are summed EXACTLY as
    decimals (never a partition-order double sum), and each
    normalization divides two exact decimals in IEEE double then
    rounds back to the grid — bit-identical across partitionings,
    cluster sizes, and engines.

    Scale shape (10^11-edge web graph): per iteration two narrow
    edge->score equi-joins and two node-keyed aggregations — the same
    shuffle profile as one PageRank iteration, with the (node, score)
    frontier localCheckpointed so the lineage stays O(1) deep.
    """
    if iters < 0:
        raise ValueError(f"need iters >= 0; got {iters}")
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    if nodes.isEmpty():
        return nodes.select(
            "node",
            F.lit(None).cast("double").alias("hub"),
            F.lit(None).cast("double").alias("auth"),
        )
    hub = nodes.select("node", F.lit(1.0).alias("score"))
    auth = None

    def _propagate(scores, key_in, key_out):
        """Sum `scores` over edges into `key_out` side, normalized.

        The normalizer rides a broadcast 1-row cross-join instead of a
        driver collect, so each half-iteration costs ONE eager job
        (the localCheckpoint) rather than two — the exact-decimal sum
        and the double division are the same values either way."""
        raw = (
            e.join(
                scores.withColumnRenamed("node", key_in), key_in
            )
            .groupBy(F.col(key_out).alias("node"))
            .agg(
                F.sum(F.col("score").cast("decimal(20,8)")).alias("_s")
            )
        )
        tot = raw.agg(F.sum("_s").cast("double").alias("_t"))
        return (
            nodes.join(raw, "node", "left")
            .crossJoin(F.broadcast(tot))
            .select(
                "node",
                F.round(
                    F.coalesce(F.col("_s").cast("double"), F.lit(0.0))
                    / F.col("_t"),
                    8,
                ).alias("score"),
            )
            .localCheckpoint()
        )

    for _ in range(iters):
        auth = _propagate(hub, "src", "dst")
        hub = _propagate(auth, "dst", "src")
    if auth is None:  # iters == 0: classical all-ones init, normalized
        n = nodes.count()
        hub = nodes.select(
            "node", F.round(F.lit(1.0) / n, 8).alias("score")
        )
        auth = hub
    return (
        hub.withColumnRenamed("score", "hub")
        .join(auth.withColumnRenamed("score", "auth"), "node")
        .select("node", "hub", "auth")
    )
