#!/usr/bin/env python3
"""Run one workload on several seeds and report each end-to-end
metric's median and interquartile spread against its bound.

    python3 perfbench/steadiness.py --workload pages_batch --save .bench_build/a.json
    python3 perfbench/steadiness.py --workload pages_batch --first-seed 200 --against .bench_build/a.json

Run from the checkout root. The spread is (q3 - q1) / median over the
runs, with quartiles from ``statistics.quantiles(values, n=4)``; a
steady benchmark keeps it below a third of the metric's bound in
BENCHMARK.json, ``setup_s`` included. ``--against`` also checks that
no median is worse than a saved earlier set's by more than the bound.
The exit code is 0 only when every check holds.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.stats import median, quartiles, relative_spread  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--save", help="write the medians to this JSON file")
    ap.add_argument("--against", help="medians saved by an earlier --save")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = {m["name"]: m for m in bench["end_to_end"]}

    values: dict[str, list[float]] = {k: [] for k in spec}
    for seed in range(args.first_seed, args.first_seed + args.runs):
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, text=True)
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else {}
        if proc.returncode != 0 or not result.get("correct"):
            print(f"seed {seed}: run failed (exit {proc.returncode}): {result}")
            return 1
        for k in values:
            values[k].append(result["metrics"][k]["value"])
        print(f"seed {seed}: " + " ".join(
            f"{k}={v[-1]:.4g}" for k, v in values.items()), flush=True)

    steady = True
    medians = {k: median(v) for k, v in values.items()}
    for k, vs in values.items():
        q1, q2, q3 = quartiles(vs)
        spread = relative_spread(vs)
        ok = spread < spec[k]["bound"] / 3
        steady &= ok
        print(f"{k}: median={q2:.6g} q1={q1:.6g} q3={q3:.6g} spread={spread:.4f} "
              f"bound={spec[k]['bound']} {'ok' if ok else 'TOO WIDE'}")
    if args.against:
        with open(args.against) as f:
            before = json.load(f)
        for k, now in medians.items():
            sign = 1 if spec[k]["better"] == "lower" else -1
            worse = sign * (now - before[k]) / before[k]
            ok = worse <= spec[k]["bound"]
            steady &= ok
            print(f"{k}: median {before[k]:.6g} -> {now:.6g}, worse by {worse:+.4f} "
                  f"(bound {spec[k]['bound']}) {'ok' if ok else 'DRIFTED'}")
    if args.save:
        with open(args.save, "w") as f:
            json.dump(medians, f, indent=1)
    print(json.dumps(medians))
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main())
