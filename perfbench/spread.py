#!/usr/bin/env python3
"""Run one workload of the benchmark on several seeds, one process per run,
and report each end-to-end metric's median, quartiles and spread (the
interquartile distance as a share of the median) beside its bound in
BENCHMARK.json.

    python3 perfbench/spread.py --workload crawl_deep --runs 10 --first-seed 1

A benchmark is steady enough when every spread but ``setup_s``'s is within
its bound; the aim is a third of it. For a comparison of two commits, run
this on each and compare the medians.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

from bench_stats import median, quartiles, relative_spread

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if args.runs < 2:
        p.error("--runs must be at least 2 for quartiles")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    values: dict[str, list[float]] = {}
    for seed in range(args.first_seed, args.first_seed + args.runs):
        t0 = time.perf_counter()
        proc = subprocess.run(
            bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=400,
        )
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        try:
            result = json.loads(lines[-1])
            summary = json.loads(lines[-2])
        except (IndexError, json.JSONDecodeError):
            print(f"seed {seed}: exit {proc.returncode}, no result\n{proc.stderr[-2000:]}")
            return 1
        setup = summary["setup"]
        print(f"seed {seed}: {wall:.1f} s, correct={result['correct']}, "
              f"failed {result['failed']}/{result['attempted']}; session {setup['session_s']:.1f} s, "
              f"inputs {max(setup['gen_s']):.1f} s, build {setup['init_s']:.1f} s, "
              f"warm-up {setup['warm_s']:.1f} s, measured {summary['measured_s']:.1f} s, "
              f"check {summary['check_s']:.1f} s", flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])

    print(f"\n{'metric':<40} {'median':>12} {'Q1':>12} {'Q3':>12} {'spread':>7} {'bound':>6}")
    for name, vals in values.items():
        q1, _, q3 = quartiles(vals)
        spread = relative_spread(vals) if median(vals) else float("nan")
        bound = bounds.get(name, "")
        print(f"{name:<40} {median(vals):>12.4f} {q1:>12.4f} {q3:>12.4f} {spread:>7.3f} {bound:>6}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
