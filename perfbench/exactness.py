"""Count-exactness check: run each workload traced twice with the same
seed and list the count metrics (jobs, stages, tasks, bytes, plan
characters) whose two values differ.

    python3 perfbench/exactness.py [--seed 1] [workload ...]

A count listed here is not exact: no performance claim may rest on it.
Mark it with a ``.nonexact`` unit suffix in BENCHMARK.json and
layers.UNITS.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
COUNT_UNITS = ("count", "bytes", "chars")


def traced_counts(workload: str, seed: int) -> dict[str, float]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--trace", "1"],
        capture_output=True, text=True, check=True,
        cwd=os.path.dirname(HERE))
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        raise SystemExit(f"{workload}: {result['failed']} of "
                         f"{result['attempted']} operations failed")
    return {name: m["value"] for name, m in result["metrics"].items()
            if m["unit"].split(".")[0] in COUNT_UNITS}


def main() -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("workloads", nargs="*", default=list(WORKLOADS))
    args = ap.parse_args()
    differ = set()
    for workload in args.workloads:
        a = traced_counts(workload, args.seed)
        b = traced_counts(workload, args.seed)
        for name in sorted(a):
            if a[name] != b[name]:
                differ.add(name)
                print(f"{workload:16s} {name:34s} {a[name]:>14g} "
                      f"{b[name]:>14g}")
    print(json.dumps(sorted(differ)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
