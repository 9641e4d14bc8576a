"""Local replica of the driver's Spark-vs-DuckDB correctness gate.

Runs every ``queries()`` entry at sf0.01 and, where an ``oracle_sql()``
entry exists, compares row count, column-name set, and a value hash of
the result with columns sorted by name and rows sorted canonically.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:]) or None

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def value_hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_float_dtype(col):
            col = col.round(6)
        h.update(col.astype(str).str.cat(sep="\x1f").encode())
    return h.hexdigest()[:16]


def main() -> int:
    from __spark_entry__ import oracle_sql, queries

    from dandi_s3_log_parser_spark.session import get_spark

    # the engine's own session: the settings every query runs under in
    # the pipeline, the CLI and the tests
    spark = get_spark("parity", cpus=8, shuffle_partitions=8, driver_memory="8g")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs, oracles = queries(), oracle_sql()
    failures = []
    report: dict[str, dict] = {}
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            report[name] = {"err": f"spark: {type(e).__name__}: {e}"[:500]}
            continue
        el = time.time() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows ({el:.1f}s, no oracle)")
            report[name] = {
                "spark_rows": len(sdf), "oracle": None,
                "secs": round(el, 1), "err": None,
            }
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error {e}")
            report[name] = {"err": f"duckdb: {e}"[:500]}
            continue
        a, b = canon(sdf), canon(odf)
        ok_rows = len(a) == len(b)
        ok_cols = list(a.columns) == list(b.columns)
        ok_hash = ok_rows and ok_cols and value_hash(a) == value_hash(b)
        status = "OK   " if ok_hash else "FAIL "
        if not ok_hash:
            failures.append(name)
        print(f"{status} {name}: spark={len(sdf)} oracle={len(odf)} "
              f"cols={'=' if ok_cols else 'DIFF'} hash={'=' if ok_hash else 'DIFF'} "
              f"({el:.1f}s)")
        report[name] = {
            "rows_match": ok_rows, "schema_match": ok_cols,
            "hash_match": ok_hash, "spark_rows": len(sdf),
            "oracle_rows": len(odf), "secs": round(el, 1), "err": None,
        }
        if not ok_hash and ok_rows and ok_cols:
            merged = a.compare(b) if a.shape == b.shape else None
            if merged is not None and not merged.empty:
                print(merged.head(5))
    print(f"\n{len(failures)} failures: {failures}")
    out = os.environ.get("PARITY_OUT")
    if out:
        payload = {
            "sf_dir": SF_DIR,
            "generated_utc": time.strftime(
                "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
            ),
            "n_queries": len(report),
            "n_failures": len(failures),
            "failures": failures,
            "queries": report,
        }
        Path(out).write_text(json.dumps(payload, indent=1))
        print(f"wrote {out}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
