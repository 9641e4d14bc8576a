"""Iceberg MERGE commit-conflict retry (optimistic concurrency), pinned
with the recorder of ``iceberg_recorder.py``.
"""

import pytest

from dandi_s3_log_parser_spark.operators.enrich import merge_region_cache

from .iceberg_recorder import IcebergRecorder, iceberg_catalog


_CONFLICT = Exception(
    "org.apache.iceberg.exceptions.CommitFailedException: "
    "Cannot commit: stale table metadata"
)
_UNKNOWN = Exception(
    "org.apache.iceberg.exceptions.CommitStateUnknownException: "
    "Datacenter on fire"
)


# ---------------------------------------------------------------------------
# commit retry (optimistic concurrency): a CommitFailedException from a
# losing snapshot race re-issues the whole statement (Iceberg re-plans it
# from the new snapshot); an unknown-state commit is retried only for
# statements declared idempotent; anything else propagates untouched
# ---------------------------------------------------------------------------


def test_commit_conflict_retries_same_statement():
    rec = IcebergRecorder([_CONFLICT, _CONFLICT, None])
    iceberg_catalog(rec).sql_with_commit_retry("MERGE INTO ice.db.t ...")
    assert rec.statements == ["MERGE INTO ice.db.t ..."] * 3


def test_commit_conflict_exhausted_raises():
    rec = IcebergRecorder([_CONFLICT] * 4)
    with pytest.raises(Exception, match="CommitFailedException"):
        iceberg_catalog(rec).sql_with_commit_retry(
            "MERGE INTO ice.db.t ...", retries=3
        )
    assert len(rec.statements) == 4  # initial + 3 retries, then give up


def test_non_conflict_error_propagates_immediately():
    rec = IcebergRecorder([Exception("AnalysisException: table not found")])
    with pytest.raises(Exception, match="table not found"):
        iceberg_catalog(rec).sql_with_commit_retry("MERGE INTO ice.db.t ...")
    assert len(rec.statements) == 1


def test_unknown_state_not_retried_by_default():
    rec = IcebergRecorder([_UNKNOWN, None])
    with pytest.raises(Exception, match="CommitStateUnknownException"):
        iceberg_catalog(rec).sql_with_commit_retry("UPDATE ice.db.t SET ...")
    assert len(rec.statements) == 1


def test_unknown_state_retried_when_declared_idempotent():
    rec = IcebergRecorder([_UNKNOWN, None])
    iceberg_catalog(rec).sql_with_commit_retry(
        "MERGE INTO ice.db.t ...", retry_unknown_state=True
    )
    assert len(rec.statements) == 2


def test_merge_region_cache_survives_one_conflict(spark):
    """End-to-end through the operator: the losing-writer MERGE is
    re-issued verbatim (same temp view — its contents are unchanged;
    re-planning happens inside Iceberg from the new snapshot), and the
    temp view is dropped exactly once afterwards."""
    rec = IcebergRecorder([_CONFLICT, None])
    ip_map = spark.createDataFrame([("h1", "eu")], "ip_hash string, region string")
    merge_region_cache(iceberg_catalog(rec), ip_map)
    assert len(rec.statements) == 2
    assert rec.statements[0] == rec.statements[1]
    assert rec.statements[0].startswith("MERGE INTO ice.db.ip_region_cache")
    assert len(rec.dropped) == 1


def test_merge_region_cache_conflict_exhaustion_still_drops_view(spark):
    rec = IcebergRecorder([_CONFLICT] * 4)
    ip_map = spark.createDataFrame([("h1", "eu")], "ip_hash string, region string")
    with pytest.raises(Exception, match="CommitFailedException"):
        merge_region_cache(iceberg_catalog(rec), ip_map)
    assert len(rec.statements) == 4
    assert len(rec.dropped) == 1  # finally-block hygiene holds on failure
