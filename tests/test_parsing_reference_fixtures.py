"""Golden-file parity with the reference's own reduction fixtures, and
the same semantics on synthetic log lines.

Mirrors the reference's e2e test strategy
(``tests/test_reduction/test_reduce_raw_s3_log.py`` and
``..._bad_lines.py``): run the reduction on the reference's raw log
fixtures and frame-compare against its expected TSVs.  Those tests skip
when the reference checkout is absent; the synthetic tests at the end
pin fast/slow path equivalence, ``bytes_sent="-"`` -> 0, zarr
truncation and the no-error-rows rule on ``datagen.generate`` headers.
"""

import re
from datetime import datetime

import pandas as pd
import pandas.testing
import pytest

from dandi_s3_log_parser_spark.datagen import generate
from dandi_s3_log_parser_spark.operators.reduce import (
    parse_and_filter_log_lines,
    reduced_to_tsv_strings,
    split_reduced,
)

from .conftest import REFERENCE

EXAMPLES = "tests/test_reduction/examples"
REDUCED_COLS = ["timestamp", "ip_address", "object_key", "bytes_sent", "parse_status"]


def _run_reduction(spark, raw_log_path, native_fast=True):
    raw = spark.read.text(str(raw_log_path))
    parsed = parse_and_filter_log_lines(raw, "value", native_fast=native_fast)
    kept, errors = split_reduced(parsed)
    out = (
        reduced_to_tsv_strings(kept)
        .orderBy("timestamp")
        .toPandas()
        .reset_index(drop=True)
    )
    return out, errors


def _golden(path):
    df = pd.read_csv(path, sep="\t")
    df["bytes_sent"] = df["bytes_sent"].astype("int64")
    return df.sort_values("timestamp").reset_index(drop=True)


@pytest.mark.parametrize("native_fast", [True, False], ids=["fast", "slow"])
def test_reduction_example_0(spark, reference_dir, native_fast):
    base = reference_dir / EXAMPLES / "reduction_example_0"
    out, errors = _run_reduction(spark, base / "raw_logs/2020/01/01.log", native_fast)
    golden = _golden(base / "expected_output/2020/01/01.tsv")
    pandas.testing.assert_frame_equal(out, golden)
    assert errors.count() == 0


@pytest.mark.parametrize("native_fast", [True, False], ids=["fast", "slow"])
def test_reduction_example_2_bad_lines(spark, reference_dir, native_fast):
    """Malformed/injection lines are cleanly dropped with ZERO error rows
    (reference ``test_reduce_raw_s3_log_bad_lines.py:41-44``); BOTH the
    native fast path and the all-rows Arrow-UDF path must hit the same
    golden (path-equivalence, SURVEY §5)."""
    base = reference_dir / EXAMPLES / "reduction_example_2"
    out, errors = _run_reduction(spark, base / "raw_logs/2022/04/06.log", native_fast)
    golden = _golden(base / "expected_output/2022/04/06.tsv")
    pandas.testing.assert_frame_equal(out, golden)
    assert errors.count() == 0


# bucket owner, bucket, [time zone], ip, requester, request id,
# operation, key, "request-uri", status, error code, bytes sent, ...
_HEADER = re.compile(
    r'\S+ \S+ \[(?P<time>\S+) [^\]]*\] (?P<ip>\S+) \S+ \S+ (?P<op>\S+) '
    r'(?P<key>\S+) "[^"]*" (?P<status>\S+) \S+ (?P<bytes>\S+) '
)


def _synthetic_example_1(root):
    """A ``reduction_example_1``-shaped tree from ``generate`` header
    lines: ``raw_logs/YYYY/MM/DD.log`` per request day, and each day's
    expected TSV computed here from the header fields by a regex, not by
    the package's parser."""
    days = {}
    for page in generate(600, 23).pages["html"]:
        line = page.split(b"\n", 1)[0].decode("utf-8")
        m = _HEADER.match(line)
        when = datetime.strptime(m["time"], "%d/%b/%Y:%H:%M:%S")
        raw, kept = days.setdefault(when.strftime("%Y/%m/%d"), ([], []))
        raw.append(line)
        parent, *rest = m["key"].split("/")
        if m["op"] != "REST.GET.OBJECT" or parent not in ("blobs", "zarr"):
            continue
        if not m["status"].startswith("2"):
            continue
        key = f"zarr/{rest[0]}" if parent == "zarr" else m["key"]
        size = 0 if m["bytes"] == "-" else int(m["bytes"])
        kept.append((when.isoformat(), m["ip"], key, size))
    for day, (raw, kept) in days.items():
        log = root / "raw_logs" / f"{day}.log"
        log.parent.mkdir(parents=True, exist_ok=True)
        log.write_text("\n".join(raw) + "\n")
        tsv = root / "expected_output" / f"{day}.tsv"
        tsv.parent.mkdir(parents=True, exist_ok=True)
        pd.DataFrame(kept, columns=REDUCED_COLS[:4]).to_csv(tsv, sep="\t", index=False)
    return root


@pytest.mark.parametrize("native_fast", [True, False], ids=["fast", "slow"])
def test_reduction_example_1_batch(spark, native_fast, tmp_path):
    """Folder-tree batch reduction: each day file maps to its golden
    (reference ``test_reduce_all_dandi_raw_s3_logs.py``).  Without the
    reference checkout the tree and its goldens are synthetic."""
    base = REFERENCE / EXAMPLES / "reduction_example_1"
    if not base.is_dir():
        base = _synthetic_example_1(tmp_path)
    raws = sorted((base / "raw_logs").rglob("*.log"))
    assert len(raws) >= 2
    for raw in raws:
        rel = raw.relative_to(base / "raw_logs").with_suffix(".tsv")
        out, _ = _run_reduction(spark, raw, native_fast)
        golden = _golden(base / "expected_output" / rel)
        assert len(golden) > 0
        pandas.testing.assert_frame_equal(
            out.sort_values(list(out.columns)).reset_index(drop=True),
            golden.sort_values(list(golden.columns)).reset_index(drop=True),
        )


# ---------------------------------------------------------------------------
# The same semantics on synthetic header lines (no reference checkout)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def synthetic_paths(spark):
    """(header lines, fast, slow): the header lines of ``generate(2000)``
    and their reduction on each path, each row carrying its raw line in
    ``value``."""
    headers = [
        h.split(b"\n", 1)[0].decode("utf-8") for h in generate(2000, 17).pages["html"]
    ]
    raw = spark.createDataFrame([(h,) for h in headers], "value string")

    def run(native_fast):
        return (
            parse_and_filter_log_lines(
                raw, "value", passthrough=("value",), native_fast=native_fast
            )
            .toPandas()
            .sort_values("value")
            .reset_index(drop=True)
        )

    return headers, run(True), run(False)


def test_synthetic_fast_and_slow_paths_agree(synthetic_paths):
    _, fast, slow = synthetic_paths
    # the slow path sends every line through the Arrow UDF, unescaped
    # user-agent quotes and non-2xx lines included
    assert len(fast) > 1000
    assert fast["value"].str.contains('""Mozilla', regex=False).any()
    assert {"ok", "drop_http_status"} <= set(fast["parse_status"])
    pandas.testing.assert_frame_equal(
        fast[["value", *REDUCED_COLS]], slow[["value", *REDUCED_COLS]]
    )


def test_synthetic_dash_bytes_are_zero(synthetic_paths):
    _, fast, _ = synthetic_paths
    dash = fast["value"].str.contains(r'HTTP/1\.1" \d+ - - ', regex=True)
    assert dash.sum() > 0
    assert (fast.loc[dash, "bytes_sent"] == 0).all()
    assert (fast.loc[~dash, "bytes_sent"] > 0).all()


def test_synthetic_zarr_keys_truncated(synthetic_paths):
    _, fast, _ = synthetic_paths
    zarr = fast[fast["object_key"].str.startswith("zarr/")]
    assert len(zarr) > 0
    assert zarr["object_key"].str.fullmatch(r"zarr/[^/]+").all()
    # the raw key had the chunk path the truncation removed
    assert all(f" {k}/" in line for k, line in zip(zarr["object_key"], zarr["value"]))


def test_synthetic_rejects_make_no_error_rows(synthetic_paths):
    """Wrong-operation lines are dropped silently and non-2xx lines are
    tagged ``drop_http_status``: neither becomes an ``error_*`` row
    (reference ``test_reduce_raw_s3_log_bad_lines.py:41-44``)."""
    headers, fast, slow = synthetic_paths
    wrong_op = {h for h in headers if " REST.GET.OBJECT " not in h}
    assert wrong_op
    assert not wrong_op & set(fast["value"])
    non_2xx = ~fast["http_status_code"].str.startswith("2")
    assert non_2xx.sum() > 0
    assert (fast.loc[non_2xx, "parse_status"] == "drop_http_status").all()
    for out in (fast, slow):
        assert not out["parse_status"].str.startswith("error_").any()
