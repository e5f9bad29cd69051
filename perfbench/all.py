"""Run every workload once for one seed and print its metrics by name.

    python3 perfbench/all.py --seed 1 [--seconds 5] [--trace 0]

Each workload runs as its own ``run.py`` process from the repository
root. Exits 1 when a run fails or any output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def workloads() -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [w["name"] for w in json.load(f)["workloads"]]


def run_once(workload: str, seed: int, seconds: float, trace: int,
             *extra: str) -> tuple[dict, str]:
    """One ``run.py`` run; returns its result line and its standard output."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace), *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    ok = True
    for w in workloads():
        res, out = run_once(w, args.seed, args.seconds, args.trace)
        for line in out.splitlines()[:-1]:
            print(f"{w}: {line}")
        ok = ok and res["correct"]
    print("all output checks passed" if ok else "OUTPUT CHECKS FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
