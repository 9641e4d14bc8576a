"""Self-check of the __spark_entry__ driver contract.

Mimics the driver's verify: run every ``queries()`` entry at sf=0.01 on
Spark AND its ``oracle_sql()`` on DuckDB over the same parquet, then
compare row count, column names, and order-insensitive values.
"""

import sys
from pathlib import Path

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
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
