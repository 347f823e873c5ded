#!/usr/bin/env python3
"""Spread and agreement tool: runs one workload N times in two interleaved
sets (A B A B ...), each run with its own seed, and prints for every
end-to-end metric each set's median and quartiles, IQR/median, and the
set-vs-set difference of medians next to the metric's bound from
BENCHMARK.json, plus each run's steal, JIT, GC and drift readings. The
verdict applies the acceptance rule: IQR/median over all N runs within the
bound (setup_s exempt), and set B's median no worse than set A's by more
than the bound.

    python3 perfbench/spread.py --workload dashboard_read --runs 10 [--seconds S] [--seed0 K]

Run from the root of a graft checkout. The quartiles are Python's
statistics.quantiles(values, n=4), the figure the acceptance rule uses.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def quart(vals):
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, statistics.median(vals), q3


def run_once(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"run seed={seed} failed with exit code {p.returncode}")
    result = json.loads(lines[-1])
    window = next((json.loads(x.split(" ", 2)[2]) for x in lines if x.startswith("[perfbench] window ")), {})
    return result, window, wall


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--seed0", type=int, default=1000)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    sets = {"A": [], "B": []}
    print(f"# {a.workload}: {a.runs} runs, {seconds} s each, sets interleaved A B A B ...")
    print("run set  seed   wall_s  correct  " + "  ".join(f"{m:>13}" for m in bounds) +
          "  steal_s  jit_ms  gc_ms  drift_pct  samples  windows")
    for i in range(a.runs):
        s = "AB"[i % 2]
        seed = a.seed0 + i
        res, win, wall = run_once(a.workload, seed, seconds)
        vals = {m: res["metrics"][m]["value"] for m in bounds}
        sets[s].append(vals)
        print(f"{i:3d}  {s}  {seed:5d}  {wall:7.1f}  {str(res['correct']):>7}  " +
              "  ".join(f"{vals[m]:13.4f}" for m in bounds) +
              f"  {win.get('steal_s', 0):7.2f}  {win.get('jit_ms', 0):6d}  {win.get('gc_ms', 0):5d}"
              f"  {win.get('drift_pct', 0):9.2f}  {win.get('samples', 0):7d}  {win.get('windows', 1):7d}",
              flush=True)
    print()
    summarize(bench, sets)


def summarize(bench, sets):
    """The per-set and all-runs statistics and the verdict, for the runs'
    end-to-end values grouped into sets A and B."""
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    print("metric          bound   set  median        q1            q3            iqr/median")
    verdict = True
    for m, bound in bounds.items():
        med = {}
        for s in "AB":
            vals = [r[m] for r in sets[s]]
            if not vals:
                continue
            q1, q2, q3 = quart(vals)
            med[s] = q2
            print(f"{m:14s}  {bound:5.2f}   {s}    {q2:<12.4f}  {q1:<12.4f}  {q3:<12.4f}  "
                  f"{(q3 - q1) / q2:.4f}")
        # the acceptance rule's spread: IQR/median over all runs (ten of them)
        allv = [r[m] for s in "AB" for r in sets[s]]
        q1, q2, q3 = quart(allv)
        spread = (q3 - q1) / q2
        verdict &= m == "setup_s" or spread <= bound
        note = "" if m == "setup_s" or spread <= bound / 3 else "  (above a third of the bound)"
        print(f"{m:14s}  {bound:5.2f}   all  {q2:<12.4f}  {q1:<12.4f}  {q3:<12.4f}  {spread:.4f}{note}")
        if "A" in med and "B" in med:
            # the direction that would count against a change: larger for
            # "lower is better" metrics, smaller for "higher is better"
            better = next(x["better"] for x in bench["end_to_end"] if x["name"] == m)
            diff = (med["B"] - med["A"]) / med["A"]
            worse = diff if better == "lower" else -diff
            verdict &= worse <= bound
            print(f"{m:14s}  B vs A median: {diff:+.4f} (worse by {max(worse, 0):.4f}, bound {bound})")
    print()
    print("within bounds" if verdict else "NOT within bounds")


if __name__ == "__main__":
    main()
