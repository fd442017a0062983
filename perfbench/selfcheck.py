#!/usr/bin/env python3
"""Self-check of the benchmark at miniature size: every workload, with and
without tracing, must exit 0 and emit exactly the metrics BENCHMARK.json
names for that mode, each a finite number with its unit.

    python3 perfbench/selfcheck.py        (from the repository root; ~4 min)
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("dedup_mixed", "sketch_queries")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bad = 0
    for w in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, "perfbench/run.py", "--workload", w, "--seed", "7",
                   "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
            problem = None
            if p.returncode != 0:
                problem = f"exit {p.returncode}: {p.stderr.strip().splitlines()[-1:]}"
            else:
                res = json.loads(p.stdout.strip().splitlines()[-1])
                got = res["metrics"]
                if set(res) != {"correct", "attempted", "failed", "metrics"}:
                    problem = f"result keys {sorted(res)}"
                elif not res["correct"] or res["attempted"] < 1:
                    problem = f"correct={res['correct']} attempted={res['attempted']}"
                elif {k: v["unit"] for k, v in got.items()} != want:
                    problem = "metric names or units differ from BENCHMARK.json"
                elif not all(math.isfinite(v["value"]) for v in got.values()):
                    problem = "non-finite metric value"
            bad += problem is not None
            print(f"{w:18s} trace={trace}: {problem or 'ok'}", flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
