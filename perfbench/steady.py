#!/usr/bin/env python3
"""Steadiness check: repeat one workload on one checkout.

Usage (from the repository root):

    python3 perfbench/steady.py --workload cli_files --runs 10 [--first-seed 1]

Runs perfbench/run.py once per seed (first-seed, first-seed+1, ...) and
prints, per end-to-end metric, the median, the quartiles (as
statistics.quantiles(values, n=4) gives them), the interquartile spread
as a share of the median, and the metric's bound from BENCHMARK.json.
A spread above a third of its bound is flagged: the benchmark is meant
to stay well inside its bounds on an unchanged program.

With --other DIR, every seed runs on this checkout (A) and on the
checkout at DIR (B), alternating which side runs first (A B, B A, ...).
The report then adds, per metric, the median of the pairwise ratios
B/A and the share of pairs B wins (ties count for neither).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from benchlib.stats import spread  # noqa: E402

ROOT = os.path.dirname(HERE)


def run_once(root, workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(root, "perfbench", "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=root, capture_output=True, text=True)
    if p.returncode != 0:
        raise SystemExit(f"run failed (seed {seed}, {root}):\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().split("\n")
    out, record = json.loads(lines[-1]), json.loads(lines[-2])
    if not out["correct"]:
        print(f"  seed {seed}: {out['failed']} of {out['attempted']} ops failed: "
              f"{record['failures']}", file=sys.stderr)
    print(f"  seed {seed}: loadavg {record['loadavg_before'][0]:.2f} -> "
          f"{record['loadavg_after'][0]:.2f}, {record['passes']} passes", file=sys.stderr)
    return {k: v["value"] for k, v in out["metrics"].items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--other", help="a second checkout to alternate with")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]
    a, b = [], []
    sides = [(ROOT, a)] + ([(os.path.abspath(args.other), b)] if args.other else [])
    for i in range(args.runs):
        seed = args.first_seed + i
        for root, out in (sides if i % 2 == 0 else sides[::-1]):
            out.append(run_once(root, args.workload, seed, seconds))
            print(f"seed {seed} {'A' if out is a else 'B'}: "
                  + ", ".join(f"{k}={v:.4g}" for k, v in out[-1].items()), flush=True)

    print(f"\n{args.workload}: {args.runs} runs")
    print(f"{'metric':<22}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>7}"
          + ("     B/A  B wins" if b else ""))
    for name, m in bounds.items():
        vals = [r[name] for r in a]
        s, q1, q2, q3 = spread(vals)
        flag = "  <-- above bound/3" if s > m["bound"] / 3 and name != "setup_s" else ""
        ratio = ""
        if b:
            sign = 1 if m["better"] == "higher" else -1
            wins = sum(sign * (y[name] - x[name]) > 0 for x, y in zip(a, b))
            ratio = (f"  {statistics.median(y[name] / x[name] for x, y in zip(a, b)):.4f}"
                     f"  {wins}/{len(b)}")
        print(f"{name:<22}{q2:>12.5g}{q1:>12.5g}{q3:>12.5g}{s:>9.3f}{m['bound']:>7}{ratio}{flag}")


if __name__ == "__main__":
    main()
