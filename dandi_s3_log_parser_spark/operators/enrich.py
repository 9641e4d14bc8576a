"""Stage 3a — IP anonymization + region enrichment as broadcast joins.

Spark-first recast of the reference's per-row resolver
(``src/dandi_s3_log_parser/_ip_utils.py:22-115``).  Precedence order is
preserved exactly:

1. salted-sha1 hash cache hit (``_ip_utils.py:48-53``);
2. first CIDR-range match in service order GitHub -> AWS -> GCP -> VPN,
   first range within a service (``_ip_utils.py:59-80``), emitting
   ``Service`` or ``Service/subregion``;
3. geo lookup (ipinfo in the reference, ``_ip_utils.py:84-115``) —
   replaced by a deterministic synthetic ``geo_fallback`` table;
4. ``unknown``.

Scale design: rather than range-joining every fact row against the CIDR
table, we enrich the **distinct ip dimension** (the reference's dict
cache is exactly this memoization) and equi-join the resulting
ip -> region map back onto the facts.  Distinct IPs are orders of
magnitude fewer than fact rows, so the non-equi range join only ever
touches a small table; the fact-side join strategy is left to AQE
(broadcast with a local fact-side read when the map's measured size
fits, shuffle hash join when it does not — the map is small in practice
but not bounded, so a forced broadcast hint would be an OOM risk at
100x).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..config import TEST_IP_HASH_SALT


def ip_hash_col(ip: Column, salt: str = TEST_IP_HASH_SALT) -> Column:
    """sha1(ip_bytes + salt_bytes) hex — reference ``_ip_utils.py:48``."""
    return F.sha1(F.concat(ip, F.lit(salt)))


def ip_to_long_col(ip: Column) -> Column:
    """Dotted-quad IPv4 -> long, for the CIDR containment range join.

    ``try_cast`` so non-IPv4 tokens ("unknown", IPv6, garbage) yield
    NULL — no CIDR match, precedence falls through to geo/unknown —
    instead of failing the whole job under ANSI mode."""
    p = F.split(ip, r"\.")
    return (
        p.getItem(0).try_cast("long") * 16777216
        + p.getItem(1).try_cast("long") * 65536
        + p.getItem(2).try_cast("long") * 256
        + F.try_element_at(p, F.lit(4)).try_cast("long")
    )


def build_ip_region_map(
    distinct_ips: DataFrame,
    ip_region_cache: DataFrame,
    cidr_ranges: DataFrame,
    geo_fallback: DataFrame,
    *,
    salt: str = TEST_IP_HASH_SALT,
) -> DataFrame:
    """(ip_address -> region) over the distinct-IP dimension.

    ``cidr_ranges`` carries (service, subregion, net_start, net_end,
    precedence) with ``precedence`` encoding service order then
    within-service order; first-match-wins is a ``row_number() == 1``
    over candidates ordered by precedence (SURVEY §2.3 J3).
    """
    ips = distinct_ips.select("ip_address").distinct()
    ips = ips.withColumn("ip_hash", ip_hash_col(F.col("ip_address"), salt))
    ips = ips.withColumn("ip_long", ip_to_long_col(F.col("ip_address")))

    cache = ip_region_cache.select("ip_hash", F.col("region").alias("cache_region"))
    ips = ips.join(F.broadcast(cache), "ip_hash", "left")

    cidr = cidr_ranges.select(
        F.when(
            F.col("subregion").isNotNull(),
            F.concat_ws("/", F.col("service"), F.col("subregion")),
        )
        .otherwise(F.col("service"))
        .alias("cidr_region"),
        "net_start",
        "net_end",
        "precedence",
    )
    candidates = ips.join(
        F.broadcast(cidr),
        (F.col("ip_long") >= F.col("net_start")) & (F.col("ip_long") <= F.col("net_end")),
        "left",
    )
    w = Window.partitionBy("ip_address").orderBy(F.col("precedence").asc_nulls_last())
    first_match = (
        candidates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "net_start", "net_end", "precedence")
    )

    geo = geo_fallback.select("ip_hash", F.col("region").alias("geo_region"))
    first_match = first_match.join(F.broadcast(geo), "ip_hash", "left")

    return first_match.select(
        "ip_address",
        "ip_hash",
        F.coalesce(
            F.when(F.col("ip_address") == "unknown", F.lit("unknown")),
            F.col("cache_region"),
            F.col("cidr_region"),
            F.col("geo_region"),
            F.lit("unknown"),
        ).alias("region"),
    )


def merge_region_cache(catalog, ip_map: DataFrame, table: str = "ip_region_cache") -> None:
    """Persist newly-resolved (ip_hash -> region) pairs into the cache
    table — the set-based MERGE replacing the reference's YAML cache
    save (``_ip_utils.py:211-221``).

    On Iceberg this issues a real ``MERGE INTO ... WHEN NOT MATCHED
    THEN INSERT`` (first-write-wins, matching the reference's
    cache-hit-short-circuit semantics: an entry, once resolved, is
    never rewritten) — one atomic snapshot commit, no table rewrite,
    which matters because the cache is the one table that grows
    monotonically with corpus size.  The parquet fallback reproduces
    the same semantics with an anti-join + staging-table rewrite (the
    cache is rewritten, but never via a driver collect).
    """
    new = ip_map.select("ip_hash", "region").filter(F.col("region") != "unknown")
    if catalog.iceberg_catalog:
        if not catalog.exists(table):
            catalog.write(new, table, mode="overwrite")
            return
        import uuid

        view = f"_region_cache_updates_{uuid.uuid4().hex}"
        new.createOrReplaceTempView(view)
        try:
            # insert-only MERGE is idempotent under replay (a replayed
            # commit finds the rows matched and inserts nothing), so
            # unknown-state commits are safe to retry too
            catalog.sql_with_commit_retry(
                f"MERGE INTO {catalog._ident(table)} t "  # noqa: S608 — idents, not data
                f"USING {view} s ON t.ip_hash = s.ip_hash "
                "WHEN NOT MATCHED THEN INSERT (ip_hash, region) "
                "VALUES (s.ip_hash, s.region)",
                retry_unknown_state=True,
            )
        finally:
            catalog.spark.catalog.dropTempView(view)
        return
    if catalog.exists(table):
        existing = catalog.read(table)
        merged = existing.unionByName(
            new.join(existing.select("ip_hash"), "ip_hash", "left_anti")
        )
    else:
        merged = new
    # the merged plan READS the table it will overwrite, so it must be
    # materialized first — but never on the driver (distinct IPs are
    # unbounded at 100x): write to a staging table, then rewrite the
    # final table FROM the staging files (the final write's input is the
    # staging scan, so the read-write cycle is broken cluster-side)
    staging = f"{table}__staging"
    catalog.write(merged, staging, mode="overwrite")
    catalog.write(catalog.read(staging), table, mode="overwrite")
    catalog.drop(staging)


def enrich_with_region(
    facts: DataFrame,
    ip_region_cache: DataFrame,
    cidr_ranges: DataFrame,
    geo_fallback: DataFrame,
    *,
    salt: str = TEST_IP_HASH_SALT,
) -> DataFrame:
    """Add ``region`` to fact rows via an equi-join on the enriched
    distinct-IP map.

    No broadcast hint: the distinct-IP dimension is usually far smaller
    than the facts but is NOT bounded — an unconditional broadcast OOMs
    executors when a 100x corpus carries a multi-GB IP dimension.  The
    join strategy is left to Catalyst + AQE: at runtime AQE sees the map
    side's actual shuffle size and converts to a broadcast join with a
    local (no-network) fact-side read when it fits, and degrades
    gracefully to a shuffle hash join when it does not."""
    ip_map = build_ip_region_map(
        facts.select("ip_address"), ip_region_cache, cidr_ranges, geo_fallback, salt=salt
    ).select("ip_address", "region")
    return facts.join(ip_map, "ip_address", "left").fillna({"region": "unknown"})
