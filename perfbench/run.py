#!/usr/bin/env python3
"""Benchmark of the engine, driven through its public functions.

    python3 perfbench/run.py --workload pipeline_full --seed 1 --seconds 10 --trace 0

Run from the repository root.  One driver process is the single client
of a ``local[nproc]`` Spark session and issues one pass at a time
(closed loop).  The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).  The
line before it records the session sizing, seed and pass times; both, and the
traced run's spans and event-log counters, are also written under
``.perfbench_work/results/``.

Workloads:

* ``pipeline_full`` — pages from ``generate_pages_spark(seed)`` through
  reduce -> bin -> map into a fresh warehouse per pass, checked against
  a pandas oracle.
* ``corpus_ops`` — a fixed mix of heavy ``queries()`` leaves over a
  corpus generated from the seed, checked against their DuckDB oracles.

``--trace 1`` runs the same protocol, but its measured passes are
untraced, traced, untraced: spans and Spark's event log are on for the
middle one only.  Then, traced, one pass of the other workload and
per-function probes of the pipeline, so that every per-layer metric is
measured in every traced run.  Its tracing overhead is the traced pass
time minus the mean of the two untraced passes around it.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from proctree import tree_cpu, tree_peak_rss_mb, tree_pids  # noqa: E402
from tracing import EventLog, SparkEventLog, Tracer  # noqa: E402

WORKLOADS = ("pipeline_full", "corpus_ops")
# input sizes: "full" is the benchmark; "tiny" is the smoke run's
SIZES = {"full": {"pages": 10_000, "corpus": 1.0}, "tiny": {"pages": 3_000, "corpus": 0.1}}
SETUP_REPS = 3  # input generation + oracle, median reported
MIN_PASSES = 2
TRACED_PASSES = 1  # of the other workload, the first in its session

# the CPU of a warm pass without the JIT compiler threads, not wall time:
# on a shared 4-core VM wall time moves with the host's load, and the
# JIT's CPU, about as large as the program's in the passes a run can
# afford, moves with how the host schedules it (see README.md).  Wall
# times, the cold pass and the JIT's CPU are per-layer metrics.
END_TO_END = ("cpu_s", "setup_s")


def unit_of(name: str) -> str:
    if name == "docs_per_s":
        return "1/s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_bytes", "bytes_written")):
        return "bytes"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_ratio", "_skew", "_frac")):
        return "ratio"
    return "count"


def machine() -> tuple[int, int]:
    """(cpus, driver heap GiB): every core this process may use, and a
    quarter of physical memory, capped at 8 GiB."""
    cpus = len(os.sched_getaffinity(0))
    mem_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return cpus, max(1, min(8, int(mem_gib // 4)))


def start_session(work: Path, cpus: int, heap_gib: int):
    from dandi_s3_log_parser_spark.session import get_spark

    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    return get_spark(
        "perfbench", cpus=cpus, shuffle_partitions=2 * cpus,
        driver_memory=f"{heap_gib}g", extra_conf=conf,
    )


def make_workload(name: str, spark, work: Path, size: str, seed: int, tracer):
    if name == "pipeline_full":
        from pipeline_wl import PipelineWorkload

        return PipelineWorkload(spark, work / "pipeline", SIZES[size]["pages"], seed, tracer)
    from corpus_wl import CorpusWorkload

    return CorpusWorkload(spark, work / "corpus", SIZES[size]["corpus"], seed, tracer)


def run_passes(wl, seconds: float, min_passes: int, tag: str) -> tuple[list, list, list, int]:
    """Passes until ``seconds`` have elapsed and at least ``min_passes``
    ran; returns (wall, work CPU and JIT CPU per pass, failed passes)."""
    walls, cpus, jits, failed = [], [], [], 0
    deadline = time.perf_counter() + seconds
    while len(walls) < min_passes or time.perf_counter() < deadline:
        wl.prepare_pass()
        (c0, j0), t0 = tree_cpu(), time.perf_counter()
        try:
            ok = wl.run_pass(f"{tag}-{len(walls)}")
        except Exception:  # a failed pass is counted, and the run goes on
            traceback.print_exc()
            ok = False
        walls.append(time.perf_counter() - t0)
        c1, j1 = tree_cpu()
        cpus.append(c1 - c0)
        jits.append(j1 - j0)
        failed += not ok
    return walls, cpus, jits, failed


def measure(args, spark, work: Path, session_s: float, tracer: Tracer,
            log: SparkEventLog | None) -> tuple[object, dict, list, int]:
    """Set-up, first pass and measured passes of the run's workload;
    returns (workload, metrics, seconds of every pass, failed passes).

    The first pass follows one input generation and oracle only, so it
    runs in a session that has done no other Spark work but writing the
    inputs; the other set-ups follow it.  With ``log``, the measured
    passes are untraced, traced, untraced."""
    wl = make_workload(args.workload, spark, work, args.size, args.seed, tracer)
    gen, orc = [], []

    def set_up() -> None:
        t0 = time.perf_counter()
        wl.make_inputs()
        t1 = time.perf_counter()
        wl.make_oracle()
        gen.append(t1 - t0)
        orc.append(time.perf_counter() - t1)

    set_up()
    first, first_cpu, _, failed = run_passes(wl, 0, 1, "first")
    t0 = time.perf_counter()
    once_ok = wl.check_once()
    once_s = time.perf_counter() - t0
    for _ in range(SETUP_REPS - 1):
        set_up()
    if log is None:
        walls, cpu, jit, f2 = run_passes(wl, args.seconds, MIN_PASSES, "pass")
        passes = first + walls
    else:
        # the traced pass is compared with the mean of its neighbours,
        # which cancels a linear drift such as the JVM still warming
        w1, c1, j1, fa = run_passes(wl, 0, 1, "pass")
        with log.tracing(tracer):
            traced, _, _, fb = run_passes(wl, 0, 1, "traced")
        w2, c2, j2, fc = run_passes(wl, 0, 1, "pass")
        walls, cpu, jit, f2 = w1 + w2, c1 + c2, j1 + j2, fa + fb + fc
        passes = first + w1 + traced + w2
    # a once-checked leaf that is wrong makes every pass wrong
    failed = failed + f2 if once_ok else len(passes)
    print(json.dumps({"datagen_s": gen, "oracle_s": orc, "once_s": once_s}), file=sys.stderr)
    wall = statistics.median(walls)
    oracle_s = statistics.median(orc) + once_s
    metrics = {
        "wall_s": wall,
        "docs_per_s": wl.n_docs / wall,
        "first_pass_s": first[0],
        "first_pass_cpu_s": first_cpu[0],
        "cpu_s": statistics.median(cpu),
        "jit_cpu_s": statistics.median(jit),
        "peak_rss_mb": tree_peak_rss_mb(),
        "setup_s": session_s + statistics.median(gen) + oracle_s,
        "setup.session_s": session_s,
        "setup.datagen_s": statistics.median(gen),
        "setup.oracle_s": oracle_s,
    }
    if log is not None:
        metrics["trace.wall_s"] = traced[0]
        metrics["trace.untraced_wall_s"] = wall
        metrics["trace.overhead_s"] = traced[0] - wall
    return wl, metrics, passes, failed


def layer_metrics(args, spark, work: Path, own, tracer: Tracer,
                  log: SparkEventLog) -> tuple[dict, int, int, dict]:
    """Traced passes of the other workload and the pipeline's per-function
    probes, then every per-layer metric from the spans and event log."""
    wls = {own.name: own}
    attempted = failed = 0
    m: dict[str, float] = {}
    with log.tracing(tracer):
        for name in WORKLOADS:
            if name not in wls:
                wl = wls[name] = make_workload(name, spark, work, args.size, args.seed, tracer)
                with tracer.span(f"setup.{name}"):
                    wl.make_inputs()
                    wl.make_oracle()
                *_, f = run_passes(wl, 0, TRACED_PASSES, f"traced-{name}")
                attempted += TRACED_PASSES
                failed += f if wl.check_once() else TRACED_PASSES
        m.update(wls["pipeline_full"].layer_probes())
    ev = EventLog(log.close())

    counters = {}
    for name in ("reduce", "bin", "map"):
        s = tracer.last(name)
        counters[name] = ev.window(s["start"], s["end"])
        m[f"{name}.wall_s"] = s["wall_s"]
        m[f"{name}.cpu_s"] = s["cpu_s"]
    m["reduce.scan_ratio"] = counters["reduce"]["records_read"] / max(m["reduce.rows_in"], 1.0)
    m["bin.shuffle_write_bytes"] = float(counters["bin"]["shuffle_write_bytes"])
    m["bin.task_skew"] = counters["bin"]["task_skew"]
    m["map.broadcast_build_s"] = counters["map"]["broadcast_build_s"]
    m["map.broadcast_bytes"] = float(counters["map"]["broadcast_bytes"])
    for probe in (
        "reduce.parse", "bin.route", "map.enrich", "map.mapped_per_asset",
        "map.version_summaries", "map.dandiset_summaries",
    ):
        m[f"{probe}.wall_s"] = tracer.last(probe)["wall_s"]
    m["lineage.pending_s"] = tracer.last("lineage.pending")["wall_s"]

    from corpus_wl import LEAVES

    for module, leaves in LEAVES.items():
        for leaf in leaves:
            name = f"{module}.{leaf}"
            s = tracer.last(name)
            c = counters[name] = ev.window(s["start"], s["end"])
            m[f"{name}.wall_s"] = s["wall_s"]
            m[f"{name}.cpu_s"] = s["cpu_s"]
            m[f"{name}.shuffle_write_bytes"] = float(c["shuffle_write_bytes"])
            m[f"{name}.spill_bytes"] = float(c["spill_bytes"])
    m["trace.pass_self_s"] = tracer.self_time(tracer.last("pipeline_full"))
    return m, attempted, failed, counters


def stop_everything(spark) -> None:
    """Stop Spark and the JVM it launched, and wait until every process
    this run started (JVM, Python worker daemons) has ended."""
    from pyspark import SparkContext

    started = tree_pids()[1:]
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gateway.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
    deadline = time.time() + 30
    for pid in started:  # the worker daemons exit once the JVM has gone
        while _running(pid):
            if time.time() > deadline:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
            time.sleep(0.1)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=tuple(SIZES), default="full")
    args = ap.parse_args(argv)

    if not (ROOT / "dandi_s3_log_parser_spark" / "__init__.py").is_file() or not (
        ROOT / "__spark_entry__.py"
    ).is_file():
        print(f"perfbench: no program to measure under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    # everything the run writes stays under the checkout
    base_dir = ROOT / ".perfbench_work"
    work = base_dir / f"{args.workload}-{os.getpid()}"
    results = base_dir / "results"
    shutil.rmtree(work, ignore_errors=True)
    for d in (work / "tmp", results):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # compiler threads that never exit keep tree_cpu's JIT split exact
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UseDynamicNumberOfCompilerThreads"
    )

    cpus, heap = machine()
    config = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size, "cpus": cpus,
        "shuffle_partitions": 2 * cpus, "driver_heap_gib": heap,
    }
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, cpus, heap)
        session_s = time.perf_counter() - t0
        tracer = Tracer()
        log = SparkEventLog(spark, work / "eventlog") if args.trace else None
        own, base, passes_s, failed = measure(args, spark, work, session_s, tracer, log)
        attempted = len(passes_s)
        metrics = {k: base[k] for k in END_TO_END}
        if args.trace:
            metrics, a2, f2, counters = layer_metrics(args, spark, work, own, tracer, log)
            attempted, failed = attempted + a2, failed + f2
            metrics["failed_frac"] = failed / attempted
            metrics.update({k: v for k, v in base.items() if k not in END_TO_END})
            stem = results / f"{args.workload}_{args.size}_seed{args.seed}_trace1"
            tracer.dump(Path(f"{stem}_spans.json"), counters)
    finally:
        stop_everything(spark)
        shutil.rmtree(work, ignore_errors=True)

    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(metrics.items())},
    }
    stem = results / f"{args.workload}_{args.size}_seed{args.seed}_trace{args.trace}"
    record = {"config": config, "passes_s": passes_s, **result}
    Path(f"{stem}.json").write_text(json.dumps(record, indent=1))
    print(json.dumps({"config": config, "passes_s": passes_s}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
