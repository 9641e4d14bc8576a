"""TSV sink parity with the reference's binning golden file tree."""

import re
from pathlib import Path

import pandas as pd
import pandas.testing

from dandi_s3_log_parser_spark.datagen import generate
from dandi_s3_log_parser_spark.operators.reduce import (
    parse_and_filter_log_lines,
    split_reduced,
)
from dandi_s3_log_parser_spark.operators.route import route_binned
from dandi_s3_log_parser_spark.sources.tsv import (
    export_binned_tsv_tree,
    read_reduced_tsv,
    write_reduced_tsv,
)

BINNING = "tests/test_binning/examples/binning_example_0"


def test_binning_golden_tree(spark, reference_dir, tmp_path):
    """Reference reduced logs in -> exact golden per-key TSV tree out
    (path set + frame equality, mirroring
    ``tests/test_binning/test_bin_reduced_s3_logs_by_object_key.py``)."""
    base = reference_dir / BINNING
    reduced = read_reduced_tsv(spark, str(base / "reduced_logs" / "*" / "*" / "*.tsv"))
    binned = route_binned(reduced, salt_buckets=2)
    written = export_binned_tsv_tree(binned, tmp_path)

    expected_dir = base / "expected_output"
    expected = sorted(
        p.relative_to(expected_dir) for p in expected_dir.rglob("*.tsv")
    )
    assert sorted(written) == expected
    for rel in expected:
        got = pd.read_csv(tmp_path / rel, sep="\t")
        want = pd.read_csv(expected_dir / rel, sep="\t")
        pandas.testing.assert_frame_equal(got, want)


def test_reduced_tsv_roundtrip(spark, reference_dir, tmp_path):
    base = reference_dir / "tests/test_reduction/examples/reduction_example_0"
    golden = base / "expected_output/2020/01/01.tsv"
    df = read_reduced_tsv(spark, str(golden))
    out = tmp_path / "roundtrip.tsv"
    write_reduced_tsv(df, out)
    assert out.read_text() == golden.read_text()


def test_empty_reduced_tsv_has_no_header(spark, tmp_path):
    """Empty result -> empty file, no header (reference
    ``_s3_log_file_reducer.py:150``)."""
    df = spark.createDataFrame(
        [], "timestamp timestamp, ip_address string, object_key string, bytes_sent long"
    )
    out = tmp_path / "empty.tsv"
    write_reduced_tsv(df, out)
    assert out.read_text() == ""


ISO_NO_ZONE = re.compile(r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}")


def _read_tsv(path):
    """(header fields, body rows as tuples of strings) of one TSV file."""
    lines = path.read_text().splitlines()
    return lines[0].split("\t"), [tuple(line.split("\t")) for line in lines[1:]]


def _assert_iso_ascending(stamps):
    assert all(ISO_NO_ZONE.fullmatch(t) for t in stamps), stamps[:3]
    assert stamps == sorted(stamps)


def test_synthetic_tsv_sinks_match_fixture_layouts(spark, tmp_path):
    """FIXTURES.md's binned and reduced TSV layouts, checked on the
    reduced rows of ``generate(...)`` (the golden-tree tests above need
    the reference checkout)."""
    headers = [
        h.split(b"\n", 1)[0].decode("utf-8") for h in generate(400, 23).pages["html"]
    ]
    raw = spark.createDataFrame([(h,) for h in headers], "value string")
    reduced, _ = split_reduced(parse_and_filter_log_lines(raw, "value"))
    reduced = reduced.select("timestamp", "ip_address", "object_key", "bytes_sent")
    rows = reduced.toPandas()
    rows["timestamp"] = rows["timestamp"].dt.strftime("%Y-%m-%dT%H:%M:%S")
    rows["bytes_sent"] = rows["bytes_sent"].astype(str)
    assert len(rows) > 200

    def expected_relpath(key):
        parent, rest = key.split("/", 1)
        if parent == "zarr":
            return Path("zarr") / f"{rest}.tsv"
        blob_id = rest.split("/")[-1]
        return Path("blobs") / blob_id[:3] / blob_id[3:6] / f"{blob_id}.tsv"

    by_key = {key: grp for key, grp in rows.groupby("object_key")}
    assert {k.split("/", 1)[0] for k in by_key} == {"blobs", "zarr"}

    # binned tree: one file per key holding exactly that key's rows
    written = export_binned_tsv_tree(
        route_binned(reduced, salt_buckets=2), tmp_path / "binned"
    )
    assert sorted(written) == sorted(expected_relpath(k) for k in by_key)
    for key, grp in by_key.items():
        header, body = _read_tsv(tmp_path / "binned" / expected_relpath(key))
        assert header == ["timestamp", "bytes_sent", "ip_address"]
        want = grp[["timestamp", "bytes_sent", "ip_address"]].itertuples(index=False)
        assert sorted(body) == sorted(map(tuple, want)), key
        _assert_iso_ascending([r[0] for r in body])

    # reduced file: every reduced row, reference column order
    out = tmp_path / "reduced.tsv"
    write_reduced_tsv(reduced, out)
    header, body = _read_tsv(out)
    assert header == ["timestamp", "ip_address", "object_key", "bytes_sent"]
    want = rows[header].itertuples(index=False)
    assert sorted(body) == sorted(map(tuple, want))
    _assert_iso_ascending([r[0] for r in body])
