"""Run one workload over several seeds and print, per metric, the median, the
quartiles and the spread (distance between the quartiles as a share of the
median) -- the statistic a benchmark bound is checked against.

    python3 sxbench/spread.py --workload ops_suite --seeds 1-10 [--seconds 8] [--trace 0]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

from stats import iqr_share, quartiles

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = map(int, text.split("-"))
        return list(range(lo, hi + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", default="8")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            cwd=os.path.dirname(HERE), capture_output=True, text=True, check=False)
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: " + ", ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()),
              flush=True)
    for name, vals in values.items():
        q1, q2, q3 = quartiles(vals)
        print(f"{name:28s} n={len(vals)} median={q2:.4g} q1={q1:.4g} q3={q3:.4g} "
              f"spread={iqr_share(vals):.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
