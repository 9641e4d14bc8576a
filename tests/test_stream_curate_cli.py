"""The command-line interface (``dandi_s3_log_parser_spark.cli``).

- ``stream-curate``, the one-command streaming ingest->curate path: the
  library transformation (filter semantics + cross-batch first-seen
  dedup) and the exactly-once guarantee across a REAL kill -9 / restart
  of the CLI process (file-source offset log + sink metadata log +
  checkpointed dedup state, see streaming/stream_curate.py module docs);
- ``stream-reduce``, ``report`` and ``curate --encode-vocab``.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time
from pathlib import Path

import duckdb
import pytest

from dandi_s3_log_parser_spark.cli import main
from dandi_s3_log_parser_spark.datagen import generate, to_spark
from dandi_s3_log_parser_spark.sources.tables import Catalog
from dandi_s3_log_parser_spark.streaming.stream_reduce import read_stream_reduced

REPO = Path(__file__).resolve().parents[1]
SF_SMALL = "/root/testdata/sf0.001"

# (doc_id, text, lang, source, n_chars) rows; texts chosen so the
# default filters decide deterministically: EN stopword-rich text
# passes, DE text fails the allowlist, punctuation junk fails quality
EN1 = "the quick brown fox jumps over the lazy dog and the cat"
EN2 = "a man and a woman walk into the old town with a map"
EN3 = "this is the third document and it has some more text in it"
DE1 = "der hund und die katze sind nicht in das alte haus gegangen"
JUNK = "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"


def _doc(i, text, src="web"):
    return (i, text, "xx", src, len(text))


def _write_docs(spark, docs_dir, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("append").parquet(str(docs_dir))


def test_curate_stream_filters_and_cross_batch_dedup(spark, tmp_path):
    """Library path: lang allowlist + quality threshold + first-seen
    text dedup hold across two availableNow drains on one checkpoint
    (the state store carries the seen-set between runs)."""
    from dandi_s3_log_parser_spark.streaming.stream_curate import stream_curate

    docs, out, ckpt = tmp_path / "docs", tmp_path / "out", tmp_path / "ckpt"

    _write_docs(spark, docs, [
        _doc(1, EN1), _doc(2, EN1), _doc(3, DE1), _doc(4, JUNK), _doc(5, EN2),
    ])
    q = stream_curate(spark, str(docs), str(out), str(ckpt))
    q.awaitTermination(300)

    got1 = {(r.doc_id, r.text) for r in spark.read.parquet(str(out)).collect()}
    assert got1 == {(1, EN1), (5, EN2)}  # dup text, de, junk all dropped

    # second landing: repeats EN1/EN2 (cross-run dups) + one new EN3 +
    # EN1 under a DIFFERENT source (dedup is per-source, so it survives)
    _write_docs(spark, docs, [
        _doc(6, EN1), _doc(7, EN2), _doc(8, EN3), _doc(9, EN1, src="mirror"),
    ])
    q = stream_curate(spark, str(docs), str(out), str(ckpt))
    q.awaitTermination(300)

    got2 = {(r.doc_id, r.text) for r in spark.read.parquet(str(out)).collect()}
    assert got2 == {(1, EN1), (5, EN2), (8, EN3), (9, EN1)}


def test_stream_curate_cli_exactly_once_across_kill(spark, tmp_path):
    """Exactly-once across a hard kill: a follow-mode CLI process is
    SIGKILLed after committing its first landing; a fresh drain on the
    same checkpoint must (a) not re-emit the killed process's rows and
    (b) still know its dedup state, so the final kept-set equals the
    batch-distinct semantics with every row exactly once."""
    docs, out, ckpt = tmp_path / "docs", tmp_path / "out", tmp_path / "ckpt"

    _write_docs(spark, docs, [_doc(1, EN1), _doc(2, EN2), _doc(3, EN1)])

    proc = subprocess.Popen(
        [
            sys.executable, "-m", "dandi_s3_log_parser_spark",
            "--local-cores", "2",
            "stream-curate",
            "--docs", str(docs), "--out", str(out),
            "--checkpoint", str(ckpt), "--follow",
        ],
        cwd=str(REPO),
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
        env=dict(os.environ, PYTHONPATH=str(REPO)),
    )
    try:
        # wait until the first landing is committed and visible
        deadline = time.time() + 240
        committed = set()
        while time.time() < deadline:
            try:
                committed = {
                    r.doc_id for r in spark.read.parquet(str(out)).collect()
                }
            except Exception:
                committed = set()
            if committed:
                break
            time.sleep(2)
        assert committed == {1, 2}, f"first landing not committed: {committed}"
    finally:
        proc.send_signal(signal.SIGKILL)
        proc.wait(timeout=60)

    # land repeats + one new doc AFTER the kill, then resume in-process
    _write_docs(spark, docs, [_doc(4, EN1), _doc(5, EN3), _doc(6, EN2)])
    from dandi_s3_log_parser_spark.streaming.stream_curate import stream_curate

    q = stream_curate(spark, str(docs), str(out), str(ckpt))
    q.awaitTermination(300)

    rows = spark.read.parquet(str(out)).collect()
    ids = sorted(r.doc_id for r in rows)
    assert ids == [1, 2, 5]  # no loss, no replay dup, state survived the kill
    assert len(ids) == len(set(ids))


def test_cli_stream_reduce_drains(spark, tmp_path):
    """The stream-reduce CLI command drains a landing pages dir into the
    rclass-partitioned reduced_stream table (CLI twin of the streaming
    recast; exercised in-process via cli.main)."""
    tables = generate(300, seed=5)
    pages, dims = to_spark(spark, tables)
    pages.write.mode("append").parquet(str(tmp_path / "pages"))
    dims["excluded_ips"].write.parquet(str(tmp_path / "dims" / "excluded_ips"))

    rc = main([
        "--local-cores", "8",
        "stream-reduce",
        "--pages", str(tmp_path / "pages"),
        "--dims", str(tmp_path / "dims"),
        "--warehouse", str(tmp_path / "wh"),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--timeout", "300",
    ])
    assert rc == 0
    cat = Catalog(spark, tmp_path / "wh")
    assert read_stream_reduced(cat).count() > 0


def test_cli_report_panel(spark, capsys):
    """The report verb prints every panel section (source stats, length
    quantiles, equi-depth histogram, char-entropy band) and is
    read-only."""
    rc = main([
        "--local-cores", "8",
        "report",
        "--documents", f"{SF_SMALL}/documents.parquet",
        "--buckets", "4",
    ])
    out = capsys.readouterr().out
    assert rc == 0
    assert "report: source=" in out
    assert "report: len-quantiles" in out
    assert "report: len-hist" in out and "bucket=3" in out
    assert "report: char-entropy" in out


@pytest.mark.slow
def test_curate_cli_encode_vocab_with_preexisting_token_columns(tmp_path):
    """Input documents that ALREADY carry n_tokens/ids columns (e.g. a
    re-curation of previously encoded output) used to produce duplicate
    column names at the encode join and fail the parquet write; now the
    stale columns are dropped and replaced."""
    src = tmp_path / "docs_with_stale_cols.parquet"
    duckdb.sql(
        "COPY (SELECT *, 7::BIGINT AS n_tokens, [1,2,3]::BIGINT[] AS ids "
        f"FROM '{SF_SMALL}/documents.parquet') "
        f"TO '{src}' (FORMAT PARQUET)"
    )
    out = tmp_path / "curated"
    r = subprocess.run(
        [
            sys.executable, "-m", "dandi_s3_log_parser_spark.cli",
            "--local-cores", "4",
            "curate",
            "--documents", str(src),
            "--out", str(out),
            "--min-chars", "0",
            "--encode-vocab", "20",
        ],
        cwd=REPO, capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    rows = duckdb.sql(
        f"SELECT n_tokens, len(ids) FROM read_parquet('{out}/*.parquet')"
    ).fetchall()
    assert len(rows) == 500
    # the stale constant columns were REPLACED by real encodings
    assert any(n != 7 for n, _ in rows)
    for n_tokens, l in rows:
        assert n_tokens == l
