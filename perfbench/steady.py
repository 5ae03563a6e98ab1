#!/usr/bin/env python3
"""Run the benchmark once per seed on each workload, in one or more
sets, and print each end-to-end metric's median and spread
(interquartile range as a share of the median) against its bound in
BENCHMARK.json; with two or more sets, also how far each later set's
median moved from the first set's.

    python3 perfbench/steady.py --runs 10 --sets 2 --first-seed 100 [--workload NAME ...]

A spread above a third of its bound, or a later median worse than the
first by more than the bound, is flagged.  Every set uses the same
seeds, and each set runs all workloads before the next set starts.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_set(bench: dict, workload: str, seeds: range) -> tuple[dict[str, list[float]], list, bool]:
    """One run per seed; the metric values, run times and whether every
    run exited 0 with a correct result."""
    values: dict[str, list[float]] = {m["name"]: [] for m in bench["end_to_end"]}
    elapsed, ok = [], True
    for seed in seeds:
        t0 = time.perf_counter()
        proc = subprocess.run(
            bench["command"]
            + ["--workload", workload, "--seed", str(seed)]
            + ["--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT,
            capture_output=True,
            text=True,
        )
        elapsed.append(time.perf_counter() - t0)
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines else {}
        if proc.returncode != 0 or not result.get("correct"):
            print(f"{workload} seed {seed}: rc={proc.returncode} {result or proc.stderr[-500:]}")
            ok = False
            continue
        for n in values:
            values[n].append(result["metrics"][n]["value"])
    return values, elapsed, ok


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench.stats import median, spread

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--workload", action="append", default=None)
    args = ap.parse_args()
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seeds = range(args.first_seed, args.first_seed + args.runs)
    ok = True
    first: dict[tuple[str, str], float] = {}
    for s in range(args.sets):
        for w in workloads:
            values, elapsed, set_ok = run_set(bench, w, seeds)
            ok &= set_ok
            print(f"set {s + 1} {w}: {len(elapsed)} runs, {median(elapsed):.1f} s median per run")
            for n, vals in values.items():
                if len(vals) < 2:
                    continue
                m, sp = median(vals), spread(vals)
                flags = [] if sp <= bounds[n] / 3 else ["spread above bound/3"]
                line = f"  {n:10s} median {m:10.4f}  spread {sp:.3f}"
                if s == 0:
                    first[(w, n)] = m
                else:
                    gap = m / first[(w, n)] - 1
                    line += f"  vs set 1 {gap:+.3f}"
                    if gap > bounds[n]:
                        flags.append("median worse than set 1 by more than the bound")
                line += f"  bound {bounds[n]}" + "".join(f"  <-- {f}" for f in flags)
                print(line)
                print(f"    {' '.join(f'{v:.4g}' for v in vals)}", flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
