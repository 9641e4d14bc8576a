"""Stage 2 — route (bin): fan reduced rows out per object key.

The reference materializes one TSV file per blob id, path-sharded
``blobs/<id[:3]>/<id[3:6]>/<id>.tsv`` / ``zarr/<id>.tsv``
(``_bin_all_reduced_s3_logs_by_object_key.py:76-113``,
``_map_binned_s3_logs_to_dandisets.py:156-164``).  In Spark the
one-file-per-key layout is a *partitioned table*, not 250k tiny files:

* the binned table is directory-partitioned by ``(day, key_parent)`` —
  coarse, bounded, prunable for incremental per-day overwrite; the
  reference's 3-hex ``key_shard`` and the full ``object_key`` are
  *cluster* (sort) columns, so parquet row-group min/max stats prune
  per-key reads without a 4096-directory fan-out per day;
* rows are clustered by ``object_key`` inside files via a salted
  ``repartition`` + ``sortWithinPartitions``, so a per-key read touches
  few row groups;
* **skew**: hot keys (the reference's zarr keys average 150x the bytes
  of blob keys, README.md:65) would funnel into one shuffle task if we
  repartitioned by key alone — we salt the shuffle key with
  ``pmod(xxhash64(timestamp, ip), salt_buckets)`` so a hot key spreads
  over ``salt_buckets`` tasks/files while remaining colocated by
  partition directory (the north rule's explicit salted-repartition
  requirement).  The repartition takes no partition count, so AQE
  coalesces it when the batch is small.

Column order inside the binned table matches the reference golden:
``timestamp, bytes_sent, ip_address``
(``_bin_all_reduced_s3_logs_by_object_key.py:86``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def key_parent() -> F.Column:
    return F.element_at(F.split(F.col("object_key"), "/"), 1)


def key_shard() -> F.Column:
    """First 3-hex shard of the blob id (``blobs/<s1>/...`` path part);
    zarr keys get the first 3 chars of the zarr id."""
    return F.when(
        key_parent() == "blobs",
        F.element_at(F.split(F.col("object_key"), "/"), 2),
    ).otherwise(
        F.substring(F.element_at(F.split(F.col("object_key"), "/"), 2), 1, 3)
    )


def route_binned(
    reduced: DataFrame,
    *,
    salt_buckets: int = 8,
    extra_cluster_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Reduced rows -> binned layout, salted against hot-key skew.

    Directory partitioning is (day, key_parent) — coarse, bounded, and
    prunable for incremental per-day overwrite; the reference's 3-hex
    ``key_shard`` and the full ``object_key`` stay as *cluster* columns:
    ``sortWithinPartitions(object_key, ...)`` gives parquet row-group
    min/max stats on the key, so a per-key read prunes row groups
    without paying a 4096-directory fan-out per day (9 KB files at test
    scale; at Iceberg scale the same intent is ``bucket(object_key)``
    hidden partitioning).

    ``extra_cluster_cols`` (e.g. the day column) join the salted
    repartition key so each shuffle task holds few output partitions.

    The repartition names columns but no count, so AQE sizes it from
    the bytes it measures: at scale it starts at
    ``spark.sql.shuffle.partitions`` tasks and the hot key spreads over
    ``salt_buckets`` of them; on a small batch the tiny partitions
    coalesce, and each (day, key_parent) directory gets one file
    instead of one per salt value.
    """
    df = reduced.withColumns(
        {
            "key_parent": key_parent(),
            "key_shard": key_shard(),
            "_salt": F.pmod(
                F.xxhash64(F.col("timestamp"), F.col("ip_address")), F.lit(salt_buckets)
            ),
        }
    )
    df = df.repartition(*extra_cluster_cols, "key_parent", "_salt")
    df = df.sortWithinPartitions("object_key", "timestamp")
    return df.select(
        "timestamp", "bytes_sent", "ip_address", "object_key", "key_parent", "key_shard",
        *extra_cluster_cols,
    )
