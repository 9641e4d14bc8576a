"""Constants and schemas shared across the engine.

Reference parity notes
----------------------
* ``KNOWN_OPERATION_TYPES`` mirrors the 66-entry AWS S3 server-access-log
  operation whitelist the reference validates against
  (reference: src/dandi_s3_log_parser/_globals.py:4-70).  The values are
  public AWS S3 access-log operation names.
* ``S3_LOG_TOKEN_REGEX`` is the three-alternation tokenizer regex
  (reference: src/dandi_s3_log_parser/_globals.py:107) used only on the
  slow/repair parse path; the hot path is positional splitting.
* ``FULL_LOG_FIELDS`` is the 26-field positional schema
  (reference: src/dandi_s3_log_parser/_globals.py:76-105).
"""

from __future__ import annotations

import re

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# S3 access-log schema (public AWS format)
# ---------------------------------------------------------------------------

FULL_LOG_FIELDS: tuple[str, ...] = (
    "bucket_owner",
    "bucket",
    "timestamp",
    "ip_address",
    "requester",
    "request_id",
    "operation",
    "object_key",
    "request_uri",
    "http_status_code",
    "error_code",
    "bytes_sent",
    "object_size",
    "total_time",
    "turn_around_time",
    "referrer",
    "user_agent",
    "version_id",
    "host_id",
    "signature_version",
    "cipher_suite",
    "authentication_type",
    "host_header",
    "tls_version",
    "access_point_arn",
    "acl_required",
)

KNOWN_OPERATION_TYPES: tuple[str, ...] = (
    "BATCH.DELETE.OBJECT",
    "REST.COPY.OBJECT",
    "REST.COPY.OBJECT_GET",
    "REST.COPY.PART",
    "REST.DELETE.BUCKET",
    "REST.DELETE.BUCKETPOLICY",
    "REST.DELETE.LIFECYCLE",
    "REST.DELETE.OBJECT",
    "REST.DELETE.OBJECT_TAGGING",
    "REST.DELETE.UPLOAD",
    "REST.GET.ACCELERATE",
    "REST.GET.ACL",
    "REST.GET.ANALYTICS",
    "REST.GET.BUCKET",
    "REST.GET.BUCKETPOLICY",
    "REST.GET.BUCKETVERSIONS",
    "REST.GET.CORS",
    "REST.GET.ENCRYPTION",
    "REST.GET.INTELLIGENT_TIERING",
    "REST.GET.INVENTORY",
    "REST.GET.LIFECYCLE",
    "REST.GET.LOCATION",
    "REST.GET.LOGGING_STATUS",
    "REST.GET.METRICS",
    "REST.GET.NOTIFICATION",
    "REST.GET.OBJECT",
    "REST.GET.OBJECT_LOCK_CONFIGURATION",
    "REST.GET.OBJECT_TAGGING",
    "REST.GET.OWNERSHIP_CONTROLS",
    "REST.GET.PART",
    "REST.GET.POLICY_STATUS",
    "REST.GET.PUBLIC_ACCESS_BLOCK",
    "REST.GET.REPLICATION",
    "REST.GET.REQUEST_PAYMENT",
    "REST.GET.TAGGING",
    "REST.GET.UPLOAD",
    "REST.GET.UPLOADS",
    "REST.GET.VERSIONING",
    "REST.GET.WEBSITE",
    "REST.HEAD.BUCKET",
    "REST.HEAD.BUCKETVERSIONS",
    "REST.HEAD.OBJECT",
    "REST.HEAD.PART",
    "REST.HEAD.UPLOADS",
    "REST.OPTIONS.PREFLIGHT",
    "REST.POST.BUCKET",
    "REST.POST.MULTI_OBJECT_DELETE",
    "REST.POST.OBJECT",
    "REST.POST.UPLOAD",
    "REST.POST.UPLOADS",
    "REST.PUT.ACL",
    "REST.PUT.BUCKET",
    "REST.PUT.BUCKETPOLICY",
    "REST.PUT.CORS",
    "REST.PUT.INVENTORY",
    "REST.PUT.LIFECYCLE",
    "REST.PUT.LOGGING_STATUS",
    "REST.PUT.METRICS",
    "REST.PUT.NOTIFICATION",
    "REST.PUT.OBJECT",
    "REST.PUT.OWNERSHIP_CONTROLS",
    "REST.PUT.PART",
    "REST.PUT.VERSIONING",
    "WEBSITE.GET.OBJECT",
)

KNOWN_OPERATIONS_SET = frozenset(KNOWN_OPERATION_TYPES)

# Tokenizer: quoted span | bracketed span | bare token
# (reference: src/dandi_s3_log_parser/_globals.py:107)
S3_LOG_TOKEN_REGEX = re.compile(r'"([^"]+)"|\[([^]]+)]|([^ ]+)')

DEFAULT_OPERATION_TYPE = "REST.GET.OBJECT"
DEFAULT_KEY_PARENTS: tuple[str, ...] = ("blobs", "zarr")

# Fixed salt for deterministic tests; stands in for the reference's
# IP_HASH_SALT env var (reference: _map_binned_s3_logs_to_dandisets.py:44-54).
TEST_IP_HASH_SALT = "spark-graft-test-salt"

# ---------------------------------------------------------------------------
# Spark schemas per stage (FIXTURES.md §3 column orders preserved)
# ---------------------------------------------------------------------------

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
    ]
)

REDUCED_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.TimestampType(), False),
        T.StructField("ip_address", T.StringType(), False),
        T.StructField("object_key", T.StringType(), False),
        T.StructField("bytes_sent", T.LongType(), False),
    ]
)

# Parse-status values emitted by the extraction stage. "drop_*" rows are
# well-formed-but-rejected (NO error-side-channel rows, per the bad-lines
# test semantics, reference: tests/test_reduction/test_reduce_raw_s3_log_bad_lines.py:41-44);
# "error_*" rows go to the errors table.
STATUS_OK = "ok"
STATUS_OK_REPAIRED = "ok_repaired"
STATUS_DROP_STATUS = "drop_http_status"
STATUS_ERROR_PARSE = "error_parse"
STATUS_ERROR_STATUS = "error_status_not_digit"
STATUS_ERROR_UNKNOWN_OP = "error_unknown_operation"

OK_STATUSES = (STATUS_OK, STATUS_OK_REPAIRED)
ERROR_STATUS_PREFIX = "error_"
