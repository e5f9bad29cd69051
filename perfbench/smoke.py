"""Smoke check of the benchmark at sf0.001 scale.

    python3 perfbench/smoke.py

Runs one short benchmark run per workload in each mode at the smoke
scale and checks that every declared metric is printed by name and that
every output check passes; then runs ``turns`` with one routed row
dropped from each iteration's output and checks that it is counted as a
failed operation. Exits 0 when all of this holds.
"""

from __future__ import annotations

import json
import os
import sys

from all import ROOT, run_once, workloads


def bench(workload: str, trace: int, *extra: str) -> tuple[dict, str]:
    return run_once(workload, 1, 1, trace, "--scale", "smoke", *extra)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for workload in workloads():
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res, out = bench(workload, trace)
            names = [m["name"] for m in spec[key]]
            printed = {line.split(" = ")[0] for line in out.splitlines() if " = " in line}
            if sorted(res["metrics"]) != sorted(names):
                problems.append(f"{workload} trace={trace}: metric set differs from {key}")
            if not set(names) <= printed:
                problems.append(f"{workload} trace={trace}: not printed: "
                                f"{sorted(set(names) - printed)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{workload} trace={trace}: {res['failed']} of "
                                f"{res['attempted']} operations failed")
            print(f"{workload} trace={trace}: {res['attempted']} operations, "
                  f"{res['failed']} failed, {len(res['metrics'])} metrics", flush=True)
    res, _ = bench("turns", 0, "--corrupt")
    if res["correct"] or res["failed"] < 1:
        problems.append("a dropped routed row was not counted as a failed operation")
    print(f"turns with a dropped routed row: {res['failed']} of "
          f"{res['attempted']} operations failed", flush=True)
    for p in problems:
        print(f"SMOKE FAILURE: {p}")
    print("smoke check", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
