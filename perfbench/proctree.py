"""CPU time and resident memory of this process and every descendant,
read from ``/proc`` (no psutil, no Spark UI).

The tree is the benchmark's Python driver, the JVM that PySpark launches
and the Python worker daemons the JVM forks.  CPU of a worker that has
exited is not lost: its parent reaps it and the kernel adds it to the
parent's ``cutime``/``cstime``, which :func:`tree_cpu` also sums.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
# HotSpot's compiler threads ("C2 CompilerThread0"; comm keeps 15 chars)
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # field 2 (comm) may contain spaces; everything after the last ')'
    # is whitespace-separated starting at field 3
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and all of its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu(root: int | None = None) -> tuple[float, float]:
    """(work, jit): user + system CPU seconds of the tree, reaped children
    included, split into the JVM's JIT compiler threads and the rest.

    The compiler threads work in the background for many passes after
    the JVM starts, and how much they do in a pass depends on how the
    host schedules them, not on the program.  The split is exact only
    while no compiler thread exits, which the benchmark's JVM option
    ``-XX:-UseDynamicNumberOfCompilerThreads`` ensures."""
    total = jit = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is None:
            continue
        # utime, stime, cutime, cstime are fields 14-17 (1-based)
        total += sum(int(v) for v in st[11:15])
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            if raw[raw.index("(") + 1 :].startswith(_JIT_THREADS):
                jit += sum(int(v) for v in raw[raw.rindex(")") + 2 :].split()[11:13])
    return (total - jit) / _TICK, jit / _TICK


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum over the live tree of each process's peak resident set
    (``VmHWM``): an upper bound on the tree's simultaneous peak."""
    kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0
