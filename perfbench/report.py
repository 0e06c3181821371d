"""Traced-run report: runs every workload untraced and traced with one
seed, prints the per-layer metrics and the tracing overhead (traced ÷
untraced ``throughput_ops_s``).

    python3 perfbench/report.py --seed 1 --seconds 10
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads  # noqa: E402


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, list[str]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True,
    )
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--workload", action="append", choices=workloads.WORKLOADS)
    args = ap.parse_args()
    for wl in args.workload or workloads.WORKLOADS:
        plain, _ = run_once(wl, args.seed, args.seconds, 0)
        traced, lines = run_once(wl, args.seed, args.seconds, 1)
        print(f"== {wl} (seed {args.seed}, {args.seconds} s)")
        for line in lines:
            if line.startswith(("self_time ", "FAILED ")):
                print(f"  {line}")
        for name, m in traced["metrics"].items():
            print(f"  {name:32s} {m['value']:12.6g} {m['unit']}")
        untraced = plain["metrics"]["throughput_ops_s"]["value"]
        with_trace = traced["metrics"]["trace.throughput_ops_s"]["value"]
        print(f"  tracing overhead: traced/untraced throughput_ops_s = "
              f"{with_trace:.4g}/{untraced:.4g} = {with_trace / untraced:.3f}")
        print(f"  correct: untraced {plain['correct']}, traced {traced['correct']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
