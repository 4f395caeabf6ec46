#!/usr/bin/env python3
"""Run workloads repeatedly, alternating between them, and summarize.

    python3 perfbench/repeat.py --runs 10 --seconds 26 [--workloads serve ingest]
        [--trace 0] [--first-seed 1] [--out results.jsonl] [--small]

Run ``i`` of every workload uses seed ``first_seed + i``. For each workload
and metric it prints the median, the quartiles (``statistics.quantiles(n=4)``)
and their distance as a share of the median.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import PLANS  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=26)
    ap.add_argument("--workloads", nargs="+", choices=sorted(PLANS),
                    default=sorted(PLANS, reverse=True))
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", help="append each run's result line here (JSON lines)")
    ap.add_argument("--small", action="store_true", help="pass --small to every run")
    args = ap.parse_args()

    results: dict[str, list[dict]] = {w: [] for w in args.workloads}
    for i in range(args.runs):
        seed = args.first_seed + i
        for w in args.workloads:
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", str(seed), "--seconds", str(args.seconds),
                   "--trace", str(args.trace)] + ["--small"] * args.small
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                               stderr=subprocess.DEVNULL, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {p.returncode}", file=sys.stderr)
                return 1
            res = json.loads(lines[-1])
            res.update(workload=w, seed=seed)
            results[w].append(res)
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps(res) + "\n")
            print(f"{w} seed {seed}: correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']}",
                  file=sys.stderr, flush=True)

    for w, runs in results.items():
        print(f"\n{w} ({len(runs)} runs)")
        print(f"  {'metric':38s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'iqr/med':>8s}")
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in runs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            spread = (q3 - q1) / med if med else float("nan")
            print(f"  {name:38s} {med:12.4g} {q1:12.4g} {q3:12.4g} {spread:8.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
