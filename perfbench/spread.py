"""Run the benchmark several times, each on its own seed, and report per
metric the median and the quartile spread (Q3 - Q1) / median, computed as
``statistics.quantiles(values, n=4)`` gives the quartiles. From the
repository root:

    python3 perfbench/spread.py --workload batch_mix --runs 10 \
        --seconds 15 [--first-seed 1] [--trace 0]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def summarize(results: list[dict]) -> dict:
    out = {}
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        out[name] = {"median": med, "spread": (q3 - q1) / med if med else
                     0.0, "unit": results[0]["metrics"][name]["unit"],
                     "values": vals}
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--cores", type=int, default=None)
    args = p.parse_args()
    results = []
    for i in range(args.runs):
        cmd = [sys.executable, os.path.join(HERE, "run.py"),
               "--workload", args.workload,
               "--seed", str(args.first_seed + i),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--run-index", str(i)]
        if args.cores:
            cmd += ["--cores", str(args.cores)]
        proc = subprocess.run(cmd, capture_output=True, text=True)
        last = (proc.stdout.strip().splitlines() or [""])[-1]
        if proc.returncode != 0 or not last.startswith("{"):
            print(proc.stderr[-3000:], file=sys.stderr)
            print(f"run {i} failed (exit {proc.returncode})",
                  file=sys.stderr)
            return 1
        results.append(json.loads(last))
        print(last, flush=True)
    summary = summarize(results)
    failed = sum(r["failed"] for r in results)
    print(json.dumps({"workload": args.workload, "runs": args.runs,
                      "failed": failed, "metrics": summary}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
