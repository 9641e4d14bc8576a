#!/usr/bin/env python3
"""Tiny-size smoke run of the benchmark: a few thousand pages and a
corpus a tenth of the benchmark's, every workload, untraced and traced.
Checks that each run is correct and prints every metric named in
``BENCHMARK.json`` with its unit.

    python3 perfbench/smoke.py        # from the repository root; ~10 min
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems = []
    for w in spec["workloads"]:
        for trace, wanted in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            cmd = [
                *spec["command"], "--workload", w["name"], "--seed", "1",
                "--seconds", "0", "--trace", str(trace), "--size", "tiny",
            ]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            tag = f"{w['name']} trace={trace}"
            if proc.returncode != 0:
                problems.append(f"{tag}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                continue
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(result)}")
            if not result["correct"] or result["failed"]:
                problems.append(f"{tag}: {result['failed']}/{result['attempted']} passes failed")
            got = result["metrics"]
            for m in wanted:
                if m["name"] not in got:
                    problems.append(f"{tag}: missing {m['name']}")
                elif got[m["name"]]["unit"] != m["unit"]:
                    problems.append(f"{tag}: {m['name']} unit {got[m['name']]['unit']} != {m['unit']}")
            extra = set(got) - {m["name"] for m in wanted}
            if extra:
                problems.append(f"{tag}: unlisted metrics {sorted(extra)}")
            print(f"{tag}: {len(got)} metrics, {result['attempted']} passes", flush=True)
    for p in problems:
        print("FAIL", p)
    print("smoke:", "FAIL" if problems else "OK")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
