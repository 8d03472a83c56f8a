#!/usr/bin/env python3
"""A/B one benchmark workload between two checkouts, in alternating pairs.

    python3 tools/perf_ab.py <parent-checkout> <change-checkout> \\
        --workload W --pairs N [--seed S] [--seconds T]

Pair i runs `perfbench/run.py --workload W --seed S+i --seconds T --trace 0`
in both checkouts, the parent first in even pairs and the change first in
odd ones, so a drift of the machine's speed hits both sides alike. Each
run's result line is printed as it lands, with its `[perfbench]` log lines
(batch times, set-up split) on stderr. At the end, for every end-to-end
metric that the change's `BENCHMARK.json` declares: each side's median and
quartiles, the pairs the change won (in the metric's `better` direction),
and the median gap against the parent's interquartile range. The script
reads the checkouts and never writes to them beyond what run.py does.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys


def run(side, checkout, workload, seed, seconds):
    """One run.py run; returns its parsed result line, or None if it failed."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    for line in proc.stderr.splitlines():
        if line.startswith(("[perfbench]", "[run.py]")):
            print(f"  {side} seed {seed}: {line}", file=sys.stderr)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        print(f"  {side} seed {seed}: FAILED (exit {proc.returncode})", file=sys.stderr)
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", required=True, type=int)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--seconds", type=int, default=10)
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        metrics = [(m["name"], m["better"]) for m in json.load(f)["end_to_end"]]
    sides = {"parent": a.parent, "change": a.change}
    pairs = []  # (seed, {side: result or None})
    for i in range(a.pairs):
        seed = a.seed + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {}
        for side in order:
            got[side] = run(side, sides[side], a.workload, seed, a.seconds)
            r = got[side]
            vals = "FAILED" if r is None else " ".join(
                f"{n}={r['metrics'][n]['value']:.6g}" for n, _ in metrics if n in r["metrics"]) + \
                f" correct={r['correct']} failed={r['failed']}"
            print(f"pair {i + 1} seed {seed} {side}: {vals}", flush=True)
        pairs.append((seed, got))

    ok = [(s, g) for s, g in pairs if g["parent"] is not None and g["change"] is not None]
    print(f"\n{a.workload}: {len(ok)} of {len(pairs)} pairs with both runs done; "
          f"runs not correct or with failed operations: "
          f"{sum(1 for _, g in pairs for r in g.values() if r is None or not r['correct'] or r['failed'])}")
    for name, better in metrics:
        if not ok:
            break
        p = [g["parent"]["metrics"][name]["value"] for _, g in ok]
        c = [g["change"]["metrics"][name]["value"] for _, g in ok]
        wins = sum(1 for x, y in zip(p, c) if (y < x if better == "lower" else y > x))
        pq, cq = quartiles(p), quartiles(c)
        gap = abs(cq[1] - pq[1])
        print(f"{name} ({better} is better): parent median {pq[1]:.6g} [Q1 {pq[0]:.6g}, Q3 {pq[2]:.6g}]  "
              f"change median {cq[1]:.6g} [Q1 {cq[0]:.6g}, Q3 {cq[2]:.6g}]  "
              f"change won {wins}/{len(ok)}  median gap {gap:.6g} vs parent IQR {pq[2] - pq[0]:.6g}")


if __name__ == "__main__":
    main()
