#!/usr/bin/env python
"""Scaling-efficiency evidence: same job, same input, N vs 4N cores.

The north rule's two-cluster-size criterion (N vs 4N executors,
throughput scaling efficiency >= 0.8) cannot use a real cluster in this
sandbox; per the driver protocol we run the identical end-to-end
pipeline at two local parallelism levels (local[8] vs local[32]) on the
same cached input and report docs/sec at both plus efficiency
  eff = (docs_per_sec_4N / docs_per_sec_N) / 4.

Each level runs in a fresh subprocess (one JVM per measurement; no
warm-cache bleed between levels beyond the shared OS page cache, which
both levels benefit from equally after the warm-up pass).

Usage: python bench_scaling.py [--pages 400000]
       (internal) python bench_scaling.py --worker-cpus K --pages N
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

REPO = Path(__file__).resolve().parent


def run_worker(
    cpus: int, n_pages: int, trials: int = 2, wh_root: str = None,
    stage: str = "all", driver_memory: str = "48g",
) -> dict:
    from bench import _delta, _ensure_bench_pages, _executor_totals
    from dandi_s3_log_parser_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
        run_reduce_stage,
    )
    from dandi_s3_log_parser_spark.plans.lineage import LineageLog
    from dandi_s3_log_parser_spark.session import get_spark
    from dandi_s3_log_parser_spark.sources.tables import Catalog
    import shutil

    # UI on (off in the library default): the REST status API is where
    # executor CPU time lives — the contamination-proof metric on this
    # shared box (external load inflates wall, not our executors' CPU)
    spark = get_spark(
        f"scale-{cpus}", cpus=cpus, shuffle_partitions=cpus,
        driver_memory=driver_memory,
        extra_conf={
            "spark.ui.enabled": "true",
            # completed-stage eviction at the default retainedStages=1000
            # shrinks the cumulative CPU sum mid-run -> negative deltas
            "spark.ui.retainedStages": "100000",
        },
    )
    pages, dims = _ensure_bench_pages(spark, n_pages)

    def one_pass(wh):
        catalog = Catalog(spark, wh)
        if stage == "reduce":
            run_reduce_stage(
                spark, catalog, pages, PipelineConfig(),
                LineageLog(catalog, "lineage"), f"scale-{cpus}",
                resume=False,
            )
        else:
            run_pipeline(
                spark, catalog, pages, dims, PipelineConfig(),
                f"scale-{cpus}", resume=False,
            )
    # warm-up: one FULL pipeline pass (JIT, codegen cache, Python UDF
    # worker pool, OS page cache), identical for both levels.  The
    # measured pass is steady-state throughput — the regime that matters
    # on a long-lived cluster chewing through 100 TB, where per-session
    # startup is amortized to nothing.
    root = Path(wh_root) if wh_root else (REPO / "_work")
    wh_warm = root / f"scale_wh_{cpus}_warm"
    shutil.rmtree(wh_warm, ignore_errors=True)
    one_pass(wh_warm)
    # several measured passes, best taken: this sandbox shares the box
    # with an external workload (load spikes of 5-15), and min-of-K is
    # the standard way to estimate intrinsic cost under noise
    secs, cpu_secs, run_secs = [], [], []
    for trial in range(trials):
        wh = root / f"scale_wh_{cpus}"
        shutil.rmtree(wh, ignore_errors=True)
        cpu0, run0 = _executor_totals(spark)
        t0 = time.perf_counter()
        one_pass(wh)
        secs.append(round(time.perf_counter() - t0, 3))
        cpu1, run1 = _executor_totals(spark)
        cpu_secs.append(_delta(cpu0, cpu1))
        run_secs.append(_delta(run0, run1))
    shutil.rmtree(wh_warm, ignore_errors=True)
    shutil.rmtree(wh, ignore_errors=True)
    best = min(secs)
    i_best = secs.index(best)
    med = sorted(secs)[len(secs) // 2]
    return {
        "cpus": cpus,
        "sec": best,
        "sec_median": med,
        "trials_sec": secs,
        # executor CPU per trial: wall varies with external box load,
        # executor CPU does not (±JIT) — a trial whose wall doubles at
        # flat CPU was descheduled, not slower
        "trials_executor_cpu_s": cpu_secs,
        "trials_executor_run_s": run_secs,
        "executor_cpu_s": cpu_secs[i_best],
        "docs_per_sec": round(n_pages / best, 1),
        "docs_per_sec_median": round(n_pages / med, 1),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=400_000)
    ap.add_argument("--worker-cpus", type=int, default=None)
    ap.add_argument("--trials", type=int, default=3)
    ap.add_argument("--levels", type=str, default="8,32",
                    help="N,4N core counts (4x apart), e.g. 4,16")
    ap.add_argument("--warehouse-root", type=str, default="/dev/shm/spark_scale_wh",
                    help="output warehouse location; tmpfs by default so sink "
                         "bandwidth models cluster storage (one local disk does "
                         "not scale with executors the way S3/HDFS does)")
    ap.add_argument("--driver-memory", type=str, default="48g",
                    help="per-JVM heap; the multi-JVM control caps this so "
                         "4 concurrent workers fit the box")
    ap.add_argument("--stage", type=str, default="all", choices=("all", "reduce"),
                    help="'reduce' measures the parse/filter/write stage alone "
                         "(per-stage scaling decomposition for BENCH.md)")
    args = ap.parse_args()

    if args.worker_cpus:
        print("WORKER_RESULT " + json.dumps(run_worker(
            args.worker_cpus, args.pages, args.trials, args.warehouse_root,
            args.stage, args.driver_memory)))
        return

    lo, hi = (int(x) for x in args.levels.split(","))
    assert hi == 4 * lo, "levels must be N and 4N"
    results = {}
    for cpus in (lo, hi):
        out = subprocess.run(
            [sys.executable, __file__, "--worker-cpus", str(cpus),
             "--pages", str(args.pages), "--trials", str(args.trials),
             "--warehouse-root", args.warehouse_root,
             "--stage", args.stage],
            capture_output=True,
            text=True,
            cwd=REPO,
            timeout=5400,
        )
        line = [l for l in out.stdout.splitlines() if l.startswith("WORKER_RESULT ")]
        if not line:
            sys.stderr.write(out.stdout[-3000:] + out.stderr[-3000:])
            raise SystemExit(f"worker local[{cpus}] failed")
        results[cpus] = json.loads(line[-1].removeprefix("WORKER_RESULT "))

    n, n4 = results[lo], results[hi]
    eff = (n4["docs_per_sec"] / n["docs_per_sec"]) / 4.0
    eff_med = (n4["docs_per_sec_median"] / n["docs_per_sec_median"]) / 4.0
    summary = {
        "pages": args.pages,
        "stage": args.stage,
        f"local[{lo}]": n,
        f"local[{hi}]": n4,
        "scaling_efficiency_N_to_4N": round(eff, 3),
        "scaling_efficiency_N_to_4N_median": round(eff_med, 3),
        "meets_north_rule_0.8": eff >= 0.8,
    }
    print(json.dumps(summary, indent=2))
    suffix = "" if args.stage == "all" else f"_{args.stage}"
    (REPO / "_work" / f"scaling_result{suffix}.json").write_text(
        json.dumps(summary)
    )


if __name__ == "__main__":
    main()
