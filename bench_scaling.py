#!/usr/bin/env python
"""Scaling-efficiency evidence: same job, same input, N vs 4N cores.

The north rule's two-cluster-size criterion (N vs 4N executors,
throughput scaling efficiency >= 0.8) cannot use a real cluster in this
sandbox; we run the identical end-to-end pipeline at two local
parallelism levels (local[8] vs local[32]) on the same cached input and
report docs/sec at both plus efficiency
  eff = (docs_per_sec_4N / docs_per_sec_N) / 4.

Each level runs in a fresh subprocess (one JVM per measurement; no
warm-cache bleed between levels beyond the shared OS page cache, which
both levels benefit from equally after the warm-up pass).

`--jvms K` is the multi-JVM control.  The N -> 4N single-JVM run
conflates (a) does the PLAN scale to 4x the parallelism and (b) does
one box's shared memory subsystem / GC scale to 4x the threads.  A real
bigger cluster adds whole executors (separate JVMs, heaps and, across
nodes, memory controllers), so (b) is a sandbox artifact.  The control
runs one local[N] worker alone, then K identical local[N] workers
concurrently: plan, task sizing and partitioning are byte-identical, so
any per-JVM throughput loss is shared-hardware contention:
    eff_hw   = aggregate_docs_per_sec / (K * single_docs_per_sec)
    eff_plan = eff_single_jvm_N_to_4N / eff_hw    (what Spark loses)

Workers time their passes with bench.py's `time_pipeline` and read
executor CPU from Spark's event log; no Spark UI is needed.

Usage: python bench_scaling.py [--pages 400000] [--levels 8,32]
       python bench_scaling.py --jvms 4 --levels 8,32 --driver-memory 16g
       (internal) python bench_scaling.py --worker-cpus K --pages N
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

from bench import REPO, WORK, Tracer


def run_worker(args) -> dict:
    from bench import _ensure_bench_pages, bench_session, measurement, time_pipeline

    cpus = args.worker_cpus
    spark = bench_session(f"scale-{cpus}", cpus, driver_memory=args.driver_memory)
    pages, dims = _ensure_bench_pages(spark, args.pages)
    # the first pass warms JIT, the codegen cache, the Python UDF worker
    # pool and the OS page cache, identically for both levels; the
    # measured passes are steady-state throughput, the regime of a
    # long-lived cluster where per-session startup amortizes to nothing.
    # min-of-K because the box is shared with an external workload.
    with measurement(spark) as tracer:
        spans = time_pipeline(
            spark, tracer, pages, dims,
            Path(args.warehouse_root) / f"scale_wh_{cpus}", args.trials, args.stage,
        )[1:]
    secs = [round(s["wall_s"], 3) for s in spans]
    best = min(secs)
    med = sorted(secs)[len(secs) // 2]
    return {
        "cpus": cpus,
        "sec": best,
        "sec_median": med,
        "trials_sec": secs,
        # wall varies with external box load, executor CPU does not
        # (±JIT): a trial whose wall doubles at flat CPU was descheduled
        "trials_executor_cpu_s": [s["executor_cpu_s"] for s in spans],
        # JIT-free CPU of the worker's whole process tree
        "trials_cpu_s": [round(s["cpu_s"], 3) for s in spans],
        "executor_cpu_s": spans[secs.index(best)]["executor_cpu_s"],
        "docs_per_sec": round(args.pages / best, 1),
        "docs_per_sec_median": round(args.pages / med, 1),
    }


def launch(args, cpus: int, warehouse_root: str) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, __file__, "--worker-cpus", str(cpus),
         "--pages", str(args.pages), "--trials", str(args.trials),
         "--stage", args.stage, "--driver-memory", args.driver_memory,
         "--warehouse-root", warehouse_root],
        stdout=subprocess.PIPE, text=True, cwd=REPO,
    )


def harvest(procs: list[subprocess.Popen]) -> list[dict]:
    """Each worker's result; on a failure or timeout no sibling JVM is
    left running."""
    results = []
    try:
        for p in procs:
            out = p.communicate(timeout=5400)[0]
            lines = [l for l in out.splitlines() if l.startswith("WORKER_RESULT ")]
            if not lines:
                raise SystemExit(f"worker produced no result (rc={p.returncode})")
            results.append(json.loads(lines[-1].removeprefix("WORKER_RESULT ")))
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
    return results


def scaling(args, lo: int, hi: int) -> tuple[dict, str]:
    assert hi == 4 * lo, "levels must be N and 4N"
    n, n4 = (harvest([launch(args, c, args.warehouse_root)])[0] for c in (lo, hi))
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
    suffix = "" if args.stage == "all" else f"_{args.stage}"
    return summary, f"scaling_result{suffix}.json"


def multi_jvm(args, cpus: int) -> tuple[dict, str]:
    root = Path(args.warehouse_root)
    tracer = Tracer()
    tracer.enabled = True
    with tracer.span("single"):
        (single,) = harvest([launch(args, cpus, str(root / "single"))])
    with tracer.span("concurrent"):
        concurrent = harvest(
            [launch(args, cpus, str(root / f"c{i}")) for i in range(args.jvms)]
        )
    # each JVM processed `pages` in its own best trial; the fleet's rate
    # is the sum of the per-JVM rates
    agg = sum(args.pages / c["sec"] for c in concurrent)
    base = args.pages / single["sec"]
    summary = {
        "pages": args.pages,
        "stage": args.stage,
        "jvms": args.jvms,
        "cpus_per_jvm": cpus,
        "single": single,
        "concurrent": concurrent,
        "single_phase_wall_s": round(tracer.last("single")["wall_s"], 1),
        "concurrent_phase_wall_s": round(tracer.last("concurrent")["wall_s"], 1),
        "single_docs_per_sec": round(base, 1),
        "aggregate_docs_per_sec": round(agg, 1),
        "hw_scaling_efficiency": round(agg / (args.jvms * base), 3),
    }
    return summary, "scaling_multijvm_result.json"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=400_000)
    ap.add_argument("--worker-cpus", type=int, default=None)
    ap.add_argument("--trials", type=int, default=3)
    ap.add_argument("--levels", type=str, default="8,32",
                    help="N,4N core counts (4x apart), e.g. 4,16; with --jvms, "
                         "each worker runs local[N]")
    ap.add_argument("--jvms", type=int, default=None,
                    help="multi-JVM control: one local[N] worker alone, then "
                         "this many concurrently")
    ap.add_argument("--warehouse-root", type=str, default="/dev/shm/spark_scale_wh",
                    help="output warehouse location; tmpfs by default so sink "
                         "bandwidth models cluster storage (one local disk does "
                         "not scale with executors the way S3/HDFS does)")
    ap.add_argument("--driver-memory", type=str, default="48g",
                    help="per-JVM heap; cap it with --jvms (4 concurrent 48g "
                         "workers outgrew a 125 GiB box)")
    ap.add_argument("--stage", type=str, default="all", choices=("all", "reduce"),
                    help="'reduce' measures the parse/filter/write stage alone "
                         "(per-stage scaling decomposition)")
    args = ap.parse_args()

    if args.worker_cpus:
        print("WORKER_RESULT " + json.dumps(run_worker(args)))
        return

    lo, hi = (int(x) for x in args.levels.split(","))
    summary, name = multi_jvm(args, lo) if args.jvms else scaling(args, lo, hi)
    print(json.dumps(summary, indent=2))
    WORK.mkdir(exist_ok=True)
    (WORK / name).write_text(json.dumps(summary))


if __name__ == "__main__":
    main()
