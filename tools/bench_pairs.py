#!/usr/bin/env python3
"""Alternating A/B pairs of the repo benchmark between two checkouts.

Usage:
  python3 tools/bench_pairs.py PARENT_DIR CHANGE_DIR --workload W --pairs N
      [--first-seed S] [--seconds 6]

Pair i (seed S+i) runs
  python3 perfbench/run.py --workload W --seed S+i --seconds 6 --trace 0
once in each checkout, one run at a time; which side goes first alternates
from pair to pair so neither side always runs on a warmer host. Prints
every pair's end-to-end metrics, each side's median and interquartile
range, and for each metric the number of pairs the change won (better in
the direction BENCHMARK.json declares). A run that fails or reports a
failed operation is printed and counts as a loss for its side.

Each metric then gets one no-regression verdict against its BENCHMARK.json
`bound`, a fraction of the parent's median:
  WORSE         the change's median is worse than the parent's by more
                than the bound;
  unresolved    otherwise, when the parent's IQR is wider than the bound
                (relative to its median), unless every change run beats
                every parent run;
  inside bound  otherwise.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def run(checkout, workload, seed, seconds):
    """One benchmark run; its metrics as {name: value}, or None on failure."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        print(f"  run failed in {checkout}: {r.stderr.strip()[-300:]}")
        return None
    out = json.loads(lines[-1])
    if out["failed"]:
        print(f"  {out['failed']} of {out['attempted']} operations failed in {checkout}")
        return None
    return {k: v["value"] for k, v in out["metrics"].items()}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def verdict(parent, change, better, bound):
    """The no-regression verdict of one metric from each side's runs."""
    if not parent or not change:
        return "unresolved"
    mp, mc = statistics.median(parent), statistics.median(change)
    worse = (mc - mp) if better == "lower" else (mp - mc)
    if worse > bound * abs(mp):
        return "WORSE"
    q1, q3 = quartiles(parent)
    beats_all = (max(change) < min(parent) if better == "lower"
                 else min(change) > max(parent))
    if q3 - q1 > bound * abs(mp) and not beats_all:
        return "unresolved"
    return "inside bound"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    a = ap.parse_args()

    spec = json.loads((Path(a.change) / "BENCHMARK.json").read_text())
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    bound = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    names = list(better)
    sides = {"parent": a.parent, "change": a.change}
    got = {"parent": [], "change": []}
    wins = {n: 0 for n in names}

    print("pair seed " + " ".join(f"{s}.{n:>10}" for s in sides for n in names))
    for i in range(a.pairs):
        seed = a.first_seed + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        res = {s: run(sides[s], a.workload, seed, a.seconds) for s in order}
        for n in names:
            p, c = res["parent"], res["change"]
            if c is not None and (p is None or
                                  (c[n] < p[n] if better[n] == "lower" else c[n] > p[n])):
                wins[n] += 1
        for s in sides:
            if res[s] is not None:
                got[s].append(res[s])
        cells = " ".join(
            f"{res[s][n]:>{len(s) + 11}.3f}" if res[s] else f"{'failed':>{len(s) + 11}}"
            for s in sides for n in names)
        print(f"{i + 1:>4} {seed:>4} {cells}", flush=True)

    print(f"\n{a.workload}: {a.pairs} pairs, seeds {a.first_seed}..{a.first_seed + a.pairs - 1}")
    for n in names:
        line = [f"{n:>10} ({better[n]} is better):"]
        for s in sides:
            xs = [r[n] for r in got[s]]
            if xs:
                q1, q3 = quartiles(xs)
                line.append(f"{s} median {statistics.median(xs):.3f} "
                            f"(IQR {q1:.3f}..{q3:.3f}, {len(xs)} runs)")
            else:
                line.append(f"{s} no runs")
        line.append(f"change won {wins[n]}/{a.pairs}")
        v = verdict([r[n] for r in got["parent"]], [r[n] for r in got["change"]],
                    better[n], bound[n])
        line.append(f"verdict (bound {bound[n]:.2f}): {v}")
        print("  ".join(line))


if __name__ == "__main__":
    main()
