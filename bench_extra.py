#!/usr/bin/env python
"""Per-query isolation bench (guide §1.4): times individual declared
queries with the noop sink, optionally dumps `.explain("formatted")`
to the gitignored _work/plans/.  NOT the driver-facing bench — that is
bench.py, frozen.

Usage:
  python bench_extra.py [--sf DIR] [--trials N] [--explain TAG] [q1 q2 ...]

  --sf DIR           default $SPARK_GRAFT_SF_DIR, else /root/testdata/sf0.1
  --trials 0         build (and with --explain dump) plans, time nothing
  --explain before   -> writes _work/plans/<query>_before.txt
  --explain after    -> writes _work/plans/<query>_after.txt
  no query names     -> every registered query

Prints one JSON line per timed query (min and per-trial wall seconds),
then `CPU` (per-trial executor CPU, from Spark's event log) and `TOTAL`
(min wall per query).

The dumped plans mask what differs between two constructions of the same
query (expression ids, lambda-variable suffixes, RDD ids and call sites,
exchange plan ids, temporary directories), so comparing a query's
before and after dumps byte for byte is a plan-identity check.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import tempfile

from bench import REPO, bench_session, measurement, time_leaf

_PLAN_MASKS = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"\b(lambda [A-Za-z]+)_\d+\b"), r"\1_N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r" at \S+\.\w+:\d+"), " at <site>"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(re.escape(tempfile.gettempdir()) + r"/[^/\]]+"), "<tmpdir>"),
)


def _masked(plan: str) -> str:
    for pat, repl in _PLAN_MASKS:
        plan = pat.sub(repl, plan)
    return plan


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument("--trials", type=int, default=2)
    ap.add_argument("--explain", default=None, choices=["before", "after"])
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entrymod

    cpus = args.cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = bench_session("bench_extra", cpus)
    registry = entrymod.queries()

    timed = {}
    with measurement(spark) as tracer:
        for name in args.queries or registry:
            fn = registry[name]
            if args.explain:
                plans_dir = REPO / "_work" / "plans"
                plans_dir.mkdir(parents=True, exist_ok=True)
                df = fn(spark, args.sf)
                txt = df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
                (plans_dir / f"{name}_{args.explain}.txt").write_text(_masked(txt))
            spans = time_leaf(spark, tracer, name, fn, args.sf, args.trials)
            if spans:
                timed[name] = spans
                ts = [round(s["wall_s"], 3) for s in spans]
                print(json.dumps({name: {"min": min(ts), "trials": ts}}), flush=True)

    # executor CPU per trial is known once the event log is closed
    print("CPU " + json.dumps(
        {k: [s["executor_cpu_s"] for s in v] for k, v in timed.items()}
    ))
    print("TOTAL " + json.dumps(
        {k: round(min(s["wall_s"] for s in v), 3) for k, v in timed.items()}
    ))

if __name__ == "__main__":
    main()
