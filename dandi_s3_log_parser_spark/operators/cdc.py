"""Change-data-capture merge: apply an upsert/delete stream to a
snapshot (the batch equivalent of a lakehouse MERGE INTO).

The reference's resume machinery re-derives state by anti-joining
lineage (``plans/lineage.py``); this is the complementary primitive for
a table whose rows CHANGE — the nightly "apply today's change stream to
yesterday's snapshot" job every incremental pipeline runs between full
rebuilds (and what Iceberg/Delta execute under the hood of MERGE).

Semantics (latest-wins): each change row carries the full payload plus
``op`` ('U' upsert / 'D' delete) and a monotonically increasing
``seq``; for every key only the HIGHEST-seq change applies.  A final
'U' inserts-or-replaces the key's row, a final 'D' removes it, keys
without changes pass through untouched.  ``(key, seq)`` pairs are
unique by contract (a CDC stream's log offset); ties would make
latest-wins ill-defined, so resolution order must come from upstream.

Scale shape (the 100 TB argument): the change stream collapses to one
row per key in a single pass — ``max_by`` over the payload struct, one
exchange keyed on the key column (Spark plans struct-valued ``max_by``
as a SortAggregate, so the per-partition sorts touch only the DELTA,
never the snapshot; the alternative max-seq + self-join formulation
trades those sorts for a second delta scan and an extra join).  The
snapshot is only ever touched by a LEFT ANTI join against the changed
key set — broadcastable when the nightly delta is small, AQE decides —
and the surviving upserts union in by name.  The snapshot is never
shuffled and never sorted; cost scales with the CHANGE volume, not the
table size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def apply_cdc(
    snapshot: DataFrame,
    changes: DataFrame,
    *,
    key_col: str = "id",
) -> DataFrame:
    """Apply a CDC stream to a snapshot; returns the next snapshot
    with the same schema.  See module docstring for semantics."""
    payload = [c for c in snapshot.columns if c != key_col]
    missing = [c for c in (key_col, *payload) if c not in changes.columns]
    if missing:
        raise ValueError(f"changes is missing snapshot columns: {missing}")

    # validate ops INSIDE the plan (no extra scan of the delta): a
    # malformed op ('u', 'I', NULL) previously fell through to the
    # delete path and silently dropped the row (round-4 ADVICE); now the
    # job fails loudly at execution time instead of losing data
    op_ok = F.col("op").isin("U", "D")
    checked_op = F.when(op_ok, F.col("op")).otherwise(
        F.raise_error(
            F.concat(
                F.lit("apply_cdc: op must be 'U' or 'D', got: "),
                F.coalesce(F.col("op").cast("string"), F.lit("NULL")),
            )
        )
    )
    latest = changes.groupBy(key_col).agg(
        F.max_by(
            F.struct(checked_op.alias("_op"), *payload), F.col("seq")
        ).alias("_c")
    )
    upserts = latest.filter(F.col("_c._op") == "U").select(
        key_col, *[F.col(f"_c.{c}").alias(c) for c in payload]
    )
    untouched = snapshot.join(
        latest.select(key_col), on=key_col, how="left_anti"
    )
    return untouched.unionByName(upserts)
