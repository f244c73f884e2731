"""Tracing overhead: run each workload untraced and traced on the same
seed and print the end-to-end numbers of both and their difference.

    python3 perfbench/overhead.py [--seed N] [--seconds S] [WORKLOAD ...]

The traced run reports the end-to-end numbers it measured under tracing
as ``trace.<metric>``; the untraced run reports them plainly.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
E2E = ("setup_s", "latency_p50_s", "rows_per_s")


def result(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("workloads", nargs="*", default=["etl_drain", "headline"])
    args = p.parse_args()
    for workload in args.workloads:
        plain = result(workload, args.seed, args.seconds, 0)
        traced = result(workload, args.seed, args.seconds, 1)
        for name in E2E:
            a, b = plain[name]["value"], traced[f"trace.{name}"]["value"]
            print(json.dumps({
                "workload": workload, "metric": name, "untraced": a, "traced": b,
                "overhead_frac": (b - a) / a,
            }))


if __name__ == "__main__":
    main()
