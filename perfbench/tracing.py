"""Spans recorded by the benchmark around its calls into the program,
Spark's JSON event log switched on and off within one session, and an
offline parser for that log.

Spans are kept in memory and written once, at the end of a traced run.
Jobs found in the event log are attributed to a span by time window:
the jobs submitted while the span was open, and the driver-side metrics
(broadcast build time and size) of the SQL executions started in it.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

from proctree import tree_cpu


class Tracer:
    """Records (name, start, end, parent, cpu) spans when enabled; a
    disabled tracer's spans cost one branch."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        cpu0 = tree_cpu()[0]
        try:
            yield
        finally:
            rec["cpu_s"] = tree_cpu()[0] - cpu0
            rec["end"] = time.time()
            rec["wall_s"] = rec["end"] - rec["start"]
            self._stack.pop()

    def last(self, name: str) -> dict:
        return next(s for s in reversed(self.spans) if s["name"] == name)

    def self_time(self, span: dict) -> float:
        children = sum(s["wall_s"] for s in self.spans if s["parent"] == span["id"])
        return span["wall_s"] - children

    def dump(self, path: Path, counters: dict) -> None:
        spans = [{**s, "self_s": self.self_time(s)} for s in self.spans]
        path.write_text(json.dumps({"spans": spans, "counters": counters}, indent=1))


class SparkEventLog:
    """Spark's own event-log writer (what ``spark.eventLog.enabled``
    starts), attached to the session's event-log queue only inside
    :meth:`tracing`, so that traced and untraced passes can share one
    session.  :meth:`close` finishes the file in ``directory``."""

    def __init__(self, spark, directory: Path) -> None:
        directory.mkdir(parents=True, exist_ok=True)
        self.directory = directory
        jvm, sc = spark.sparkContext._jvm, spark.sparkContext._jsc.sc()
        conf = sc.conf().clone()
        conf.set("spark.eventLog.compress", "false")
        conf.set("spark.eventLog.rolling.enabled", "false")  # one plain file
        self._bus = sc.listenerBus()
        self._writer = jvm.org.apache.spark.scheduler.EventLoggingListener(
            sc.applicationId(), jvm.scala.Option.empty(),
            jvm.java.net.URI(directory.as_uri()), conf, sc.hadoopConfiguration(),
        )
        self._writer.start()

    @contextmanager
    def tracing(self, tracer: Tracer):
        """Spans and the event log on for the body."""
        self._bus.addToEventLogQueue(self._writer)
        tracer.enabled = True
        try:
            yield
        finally:
            tracer.enabled = False
            self._bus.waitUntilEmpty()  # every event of the body is written
            self._bus.removeListener(self._writer)

    def close(self) -> Path:
        self._writer.stop()
        (path,) = [p for p in self.directory.iterdir() if not p.name.startswith(".")]
        return path


def _plan_metric_ids(plan: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = (plan["nodeName"], m["name"])
    for child in plan.get("children", ()):
        _plan_metric_ids(child, out)


class EventLog:
    """The parts of one application's event log the benchmark reports."""

    def __init__(self, path: Path) -> None:
        self.jobs: list[dict] = []  # {"t": submit ms, "stages": [...]}
        self.tasks: dict[int, list[dict]] = {}  # stage id -> task metrics
        self.sql_start: dict[int, float] = {}  # execution id -> start ms
        self.accum_names: dict[int, tuple[str, str]] = {}
        self.driver_accums: list[tuple[int, int, int]] = []  # (exec, id, value)
        with open(path) as f:
            for line in f:
                self._add(json.loads(line))

    def _add(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            self.jobs.append({"t": ev["Submission Time"], "stages": ev["Stage IDs"]})
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            info = ev["Task Info"]
            self.tasks.setdefault(ev["Stage ID"], []).append(
                {
                    "time_ms": info["Finish Time"] - info["Launch Time"],
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "shuffle_write": m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    ),
                    "spill": m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                    "records_read": m.get("Input Metrics", {}).get("Records Read", 0),
                }
            )
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.sql_start[ev["executionId"]] = ev["time"]
            _plan_metric_ids(ev["sparkPlanInfo"], self.accum_names)
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metric_ids(ev["sparkPlanInfo"], self.accum_names)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for aid, value in ev["accumUpdates"]:
                self.driver_accums.append((ev["executionId"], aid, value))

    def window(self, start_s: float, end_s: float) -> dict:
        """Task and broadcast counters of the jobs submitted (and SQL
        executions started) in [start_s, end_s] (epoch seconds)."""
        lo, hi = start_s * 1000, end_s * 1000
        stages = {s for j in self.jobs if lo <= j["t"] <= hi for s in j["stages"]}
        tasks = [t for s in stages for t in self.tasks.get(s, ())]
        # skew of the stage that did the most task time in the window
        busiest = max(
            (self.tasks.get(s, []) for s in stages),
            key=lambda ts: sum(t["time_ms"] for t in ts),
            default=[],
        )
        times = [t["time_ms"] for t in busiest]
        execs = {e for e, t in self.sql_start.items() if lo <= t <= hi}
        bcast = {"time to build": 0, "data size": 0}
        for e, aid, value in self.driver_accums:
            node, name = self.accum_names.get(aid, ("", ""))
            if e in execs and node == "BroadcastExchange" and name in bcast:
                bcast[name] += value
        return {
            "jobs": sum(1 for j in self.jobs if lo <= j["t"] <= hi),
            "tasks": len(tasks),
            "executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
            "spill_bytes": sum(t["spill"] for t in tasks),
            "records_read": sum(t["records_read"] for t in tasks),
            "task_skew": (
                max(times) / max(statistics.median(times), 1) if times else 1.0
            ),
            "broadcast_build_s": bcast["time to build"] / 1000.0,
            "broadcast_bytes": bcast["data size"],
        }
