"""Self-check of the __spark_entry__ driver contract.

Mimics the driver's verify: run every ``queries()`` entry at sf=0.01 on
Spark AND its ``oracle_sql()`` on DuckDB over the same parquet, then
compare row count, column names, and order-insensitive values.  Also
holds the registry-wide plan audit and the query-level checks that no
oracle comparison can see.
"""

import tempfile
from pathlib import Path

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from dandi_s3_log_parser_spark.operators.dedup import word_tokens

SF_DIR = "/root/testdata/sf0.01"
# the registry-wide audits build every query; the smallest scale keeps
# them cheap
SF_SMALL = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


ORACLE_NAMES = sorted(entrymod.oracle_sql().keys())


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["date", "region", "n_events", "value_cents"]


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(spark, ddb, name):
    qfn = entrymod.queries()[name]
    got = _normalize(qfn(spark, SF_DIR).toPandas())
    want = _normalize(ddb.execute(entrymod.oracle_sql()[name]).df())
    assert list(got.columns) == list(want.columns), (
        f"{name}: columns {list(got.columns)} != {list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: {len(got)} rows vs {len(want)}"
    pd.testing.assert_frame_equal(got, want, check_dtype=False, obj=name)


NO_ORACLE = sorted(name for name, (_, sql) in entrymod.REGISTRY.items() if sql is None)


def test_only_bpe_merges_lacks_a_duckdb_oracle():
    # bpe_merges is checked against a pure-Python BPE in test_round5_ops
    assert NO_ORACLE == ["bpe_merges"]


def test_every_q_function_is_registered():
    q_fns = {v for k, v in vars(entrymod).items() if k.startswith("q_") and callable(v)}
    assert q_fns == set(entrymod.queries().values())


def test_duplicate_registration_raises():
    def q_sessionize(spark, sf):
        raise AssertionError("never registered")

    before = dict(entrymod.REGISTRY)
    with pytest.raises(ValueError, match="already registered"):
        entrymod.query(oracle="SELECT 1")(q_sessionize)
    assert entrymod.REGISTRY == before


@pytest.mark.parametrize("name", NO_ORACLE)
def test_rows_only_queries_run(spark, name):
    df = entrymod.queries()[name](spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_winnow_fingerprints_spreads_its_scan_once(spark):
    df = entrymod.queries()["winnow_fingerprints"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("RoundRobinPartitioning") == 1


def test_entry_pipeline_warehouse_is_reused_and_exit_managed(spark):
    """Repeated q_pages_pipeline runs must reuse ONE process-lifetime
    warehouse (removed at interpreter exit) instead of depositing a new
    /tmp tree per correctness run."""
    r1 = entrymod.queries()["pages_pipeline"](spark, SF_SMALL)
    wh1 = entrymod._PIPELINE_WAREHOUSE.name
    n1 = r1.count()
    r2 = entrymod.queries()["pages_pipeline"](spark, SF_SMALL)
    assert entrymod._PIPELINE_WAREHOUSE.name == wh1  # same dir, no second tree
    assert r2.count() == n1                          # resume re-serves same result
    assert Path(wh1).name.startswith("entry_pipeline_")
    # TemporaryDirectory carries an exit finalizer -> /tmp stays clean
    assert isinstance(entrymod._PIPELINE_WAREHOUSE, tempfile.TemporaryDirectory)


def test_encode_tokens_query_reserves_oov_zero(spark):
    """Every id the query emits for an IN-VOCAB token is >= 1: id 0 is
    the OOV sentinel and must never collide with a real token (a
    % 1000000 mapping could assign a real token id 0; the query uses
    % 999999 + 1, the same mapping as the CLI)."""
    df = entrymod.queries()["encode_tokens"](spark, SF_SMALL)
    ids = (
        df.select(F.explode(F.split("ids_csv", ",")).alias("id"))
        .filter(F.col("id") != "")
        .select(F.col("id").cast("long").alias("id"))
    )
    lo, hi = ids.agg(F.min("id"), F.max("id")).first()
    # in-vocab ids live in [1, 999999]; 0 appears only if OOV exists
    assert 0 <= lo and hi <= 999999
    # the % 1000000 mapping assigns token id 0 to any token whose
    # md5[:8] is a multiple of 1e6; exhaustively, no in-vocab token maps
    # to 0 under the query's formula
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    vocab_ids = (
        docs.select(F.explode(word_tokens(F.col("text"))).alias("w"))
        .distinct()
        .select(
            (
                F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long")
                % 999999 + 1
            ).alias("tid")
        )
    )
    vlo, vhi = vocab_ids.agg(F.min("tid"), F.max("tid")).first()
    assert vlo >= 1 and vhi <= 999999


def _window_nodes(df):
    """(simpleName, partitionSpec-is-empty) for every Window node in
    the physical plan, descending through AQE wrappers."""
    out = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        n = stack.pop()
        name = n.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(n.inputPlan())
        if "Window" in name and hasattr(n, "partitionSpec"):
            out.append((name, n.partitionSpec().isEmpty()))
        ch = n.children()
        for i in range(ch.length()):
            stack.append(ch.apply(i))
    return out


@pytest.mark.slow
def test_no_query_plan_has_unpartitioned_window(spark):
    """An unpartitioned WindowExec funnels every row through ONE task
    regardless of cluster size, and Spark only logs a warning for it;
    no registered query's physical plan may contain one."""
    offenders = {}
    for name, fn in entrymod.queries().items():
        df = fn(spark, SF_SMALL)
        bad = [w for w, empty in _window_nodes(df) if empty]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        f"unpartitioned Window nodes (single-task at any cluster size): "
        f"{offenders}"
    )
