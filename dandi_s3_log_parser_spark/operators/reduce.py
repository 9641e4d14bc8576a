"""Stage 1 — reduce: parse raw log lines, filter, project typed columns.

Spark-first recast of the reference's reduction stage
(``src/dandi_s3_log_parser/_s3_log_file_reducer.py:21-155``):

* the buffered chunked scan (``_buffered_text_reader.py``) is Spark's
  split-based text/parquet scan — no custom reader;
* the fast positional projection (``_s3_log_file_reducer.py:171-194``)
  is pure Column expressions (whole-stage codegen, zero Python);
* filter-before-parse ordering (excluded-ip -> operation -> key-parent
  before any timestamp/status work, ``:171-190``) is preserved and also
  benefits from Catalyst predicate ordering;
* only the status/bytes resolution (which owns the quote-repair fallback)
  crosses into Python, as one Arrow-batched pandas UDF
  (:mod:`..functions.parsing`).

Column orders and formats match the reference goldens:
``timestamp, ip_address, object_key, bytes_sent`` with ISO-8601
timezone-free timestamps (header literal ``_s3_log_file_reducer.py:150``).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import (
    DEFAULT_KEY_PARENTS,
    DEFAULT_OPERATION_TYPE,
    ERROR_STATUS_PREFIX,
    OK_STATUSES,
    STATUS_DROP_STATUS,
)
from ..functions.parsing import resolve_status_bytes_udf

# S3 access-log positional fields (1-based for element_at):
# 1 bucket_owner, 2 bucket, 3 "[dd/Mon/yyyy:HH:mm:ss", 4 "+0000]",
# 5 ip_address, 6 requester, 7 request_id, 8 operation, 9 object_key, ...
_IP_POS = 5
_OP_POS = 8
_KEY_POS = 9


def header_timestamp(line: Column) -> Column:
    """Bracket-field timestamp -> TimestampType (timezone dropped).

    The reference parses ``[dd/Mon/yyyy:HH:mm:ss`` and discards the zone
    on both paths (``_s3_log_file_reducer.py:209,285``); goldens are
    zone-free ISO-8601.
    """
    bracket = F.regexp_extract(line, r"\[([^\]]+)\]", 1)
    return F.to_timestamp(F.substring_index(bracket, " ", 1), "dd/MMM/yyyy:HH:mm:ss")


def tz_nonstandard(line: Column) -> Column:
    """True when the bracket timestamp's zone token exists and is not
    ``+0000``.  The reference WARNS on unexpected timezones but does not
    drop the row (``_s3_log_file_reducer.py:265-270``); the pipeline
    surfaces this as an observed metric counter (SURVEY P9), never a
    filter."""
    tz = F.regexp_extract(line, r"\[[^ \]]+ ([^\]]+)\]", 1)
    return (tz != "") & (tz != "+0000")


def truncate_zarr_key(key: Column) -> Column:
    """``zarr/<id>/a/b/c`` -> ``zarr/<id>``; other keys unchanged.

    Reference object-key handler ``_dandi_s3_log_file_reducer.py:209-220``.
    """
    parts = F.split(key, "/")
    return F.when(
        parts.getItem(0) == "zarr", F.concat_ws("/", F.slice(parts, 1, 2))
    ).otherwise(key)


def parse_and_filter_log_lines(
    df: DataFrame,
    line_col: str = "value",
    *,
    operation_type: str = DEFAULT_OPERATION_TYPE,
    excluded_ips: Iterable[str] | DataFrame | None = None,
    key_parents: Iterable[str] | None = DEFAULT_KEY_PARENTS,
    truncate_zarr: bool = True,
    passthrough: Iterable[str] = (),
    native_fast: bool = True,
) -> DataFrame:
    """Parse + filter raw log lines; returns typed rows with ``parse_status``.

    Output columns: ``timestamp, ip_address, object_key, bytes_sent,
    http_status_code, parse_status`` plus any ``passthrough`` columns.
    Well-formed-but-rejected rows (excluded ip / wrong operation / key
    parent) are filtered natively and silently, mirroring the reference
    fast path (``_s3_log_file_reducer.py:174-190``).  Rows surviving those
    filters carry ``parse_status`` in {ok, ok_repaired, drop_http_status,
    error_*}; use :func:`split_reduced` to separate them.
    """
    line = F.col(line_col)
    toks = F.split(line, " ")

    # try_element_at: genuinely short/garbage lines yield NULL fields and
    # fall out on the operation filter (the reference's fast path throws
    # and error-collects per line; at 10^12 rows a throwing task is not
    # an option, and such lines can't match the operation filter anyway)
    df = df.withColumns(
        {
            "ip_address": F.try_element_at(toks, F.lit(_IP_POS)),
            "operation": F.try_element_at(toks, F.lit(_OP_POS)),
            "object_key_raw": F.try_element_at(toks, F.lit(_KEY_POS)),
        }
    )

    # Filter-before-parse, reference order: ip -> operation -> key parent.
    if excluded_ips is not None:
        if isinstance(excluded_ips, DataFrame):
            df = df.join(
                F.broadcast(excluded_ips.select("ip_address")),
                on="ip_address",
                how="left_anti",
            )
        else:
            bad = list(excluded_ips)
            if bad:
                df = df.filter(~F.col("ip_address").isin(bad))
    df = df.filter(F.col("operation") == F.lit(operation_type))
    if key_parents:
        parents = list(key_parents)
        df = df.filter(
            F.element_at(F.split(F.col("object_key_raw"), "/"), 1).isin(parents)
        )

    # Status/bytes resolution.  The reference's fast-path sanity checks
    # (block between the first two '" ' occurrences has exactly 7
    # space-split tokens, digit status, digit-or-"-" bytes,
    # _s3_log_file_reducer.py:192-197) are evaluated NATIVELY in
    # whole-stage codegen; only rows failing them cross into the Arrow
    # UDF, and the UDF's input column is NULLed for fast rows, so ~98%
    # of header bytes never pay Arrow serialization (memory bandwidth is
    # the scaling ceiling of this stage, measured: single-box t16 for
    # 24M docs was identical on tmpfs vs disk).
    # each step lands as a bound ATTRIBUTE (withColumns projection
    # boundary) before anything references it more than once — inlining
    # the split chain into the multi-referenced when/otherwise below
    # re-evaluates it per reference (measured 4x slower on this stage)
    if not native_fast:
        df = df.withColumn("_resolved", resolve_status_bytes_udf(line))
        return _project_reduced(df, line, truncate_zarr, passthrough)
    df = df.withColumn("_blk", F.split(F.try_element_at(F.split(line, '" '), F.lit(2)), " "))
    df = df.withColumns(
        {
            "_status_n": F.try_element_at(F.col("_blk"), F.lit(1)),
            "_bytes_n": F.try_element_at(F.col("_blk"), F.lit(3)),
            "_nblk": F.size("_blk"),
        }
    )
    df = df.withColumn(
        "_fast_ok",
        (F.col("_nblk") == 7)
        & F.col("_status_n").rlike("^[0-9]+$")
        & (F.col("_bytes_n").rlike("^[0-9]+$") | (F.col("_bytes_n") == "-")),
    )
    df = df.withColumn(
        "_udf_res",
        resolve_status_bytes_udf(
            F.when(~F.col("_fast_ok").eqNullSafe(True), line)
        ),
    )
    df = df.withColumn(
        "_resolved",
        F.when(
            F.col("_fast_ok"),
            F.struct(
                F.col("_status_n").alias("http_status_code"),
                F.col("_bytes_n").alias("bytes_sent_raw"),
                F.lit("ok").alias("parse_status"),
            ),
        ).otherwise(F.col("_udf_res")),
    )
    return _project_reduced(df, line, truncate_zarr, passthrough)


def _project_reduced(df, line, truncate_zarr, passthrough) -> DataFrame:
    """Final typed projection from a df carrying ``_resolved``."""
    return df.select(
        *passthrough,
        header_timestamp(line).alias("timestamp"),
        F.col("ip_address"),
        (
            truncate_zarr_key(F.col("object_key_raw"))
            if truncate_zarr
            else F.col("object_key_raw")
        ).alias("object_key"),
        F.when(F.col("_resolved.bytes_sent_raw") == "-", F.lit(0))
        .otherwise(F.col("_resolved.bytes_sent_raw").try_cast("long"))
        .alias("bytes_sent"),
        F.col("_resolved.http_status_code").alias("http_status_code"),
        F.when(
            F.col("_resolved.parse_status").isin(*OK_STATUSES)
            & ~F.col("_resolved.http_status_code").startswith("2"),
            F.lit(STATUS_DROP_STATUS),
        )
        .otherwise(F.col("_resolved.parse_status"))
        .alias("parse_status"),
    )


def split_reduced(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(kept_reduced_rows, error_rows) from :func:`parse_and_filter_log_lines`.

    Error rows replace the reference's per-process error text files
    (``_error_collection.py:7-40``) with a side-output DataFrame.
    """
    kept = parsed.filter(F.col("parse_status").isin(*OK_STATUSES))
    errors = parsed.filter(F.col("parse_status").startswith(ERROR_STATUS_PREFIX))
    return kept, errors


def reduced_to_tsv_strings(reduced: DataFrame) -> DataFrame:
    """Format reduced rows exactly like the reference TSV body rows.

    ``timestamp`` ISO-8601 without zone or sub-seconds
    (``_s3_log_file_reducer.py:209,289-291``).
    """
    return reduced.select(
        F.date_format("timestamp", "yyyy-MM-dd'T'HH:mm:ss").alias("timestamp"),
        "ip_address",
        "object_key",
        "bytes_sent",
    )
