"""Steadiness mode: run one workload repeatedly, each run a fresh process
with its own seed, and print every metric's median, quartiles and spread
(interquartile distance / median), next to its bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload NAME --runs 10 [--first-seed 1] [--trace 0]

Run from the root of a checkout. Use it to set each metric's bound: a
metric whose spread will not stay under a third of its bound is not kept.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median) as statistics.quantiles gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    bad = 0
    for seed in range(args.first_seed, args.first_seed + args.runs):
        cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
               "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
        t0 = time.perf_counter()
        out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                             text=True, timeout=600)
        took = time.perf_counter() - t0
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"seed {seed}: exit {out.returncode}, no result", flush=True)
            bad += 1
            continue
        res = json.loads(lines[-1])
        bad += not res["correct"]
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
            units[name] = m["unit"]
        print(f"seed {seed}: {took:.0f}s correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                  if k in bounds), flush=True)
    print(f"{'metric':40s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} {'bound':>6s}")
    for name, vals in values.items():
        if len(vals) < 2:
            continue
        med, q1, q3, sp = spread(vals)
        b = bounds.get(name)
        flag = "" if b is None or sp <= b / 3 else "  > bound/3"
        print(f"{name:40s} {med:12.5g} {q1:12.5g} {q3:12.5g} {sp:8.4f} "
              f"{'' if b is None else b:>6}{flag}  {units[name]}")
    print(json.dumps({"workload": args.workload, "values": values}))
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
