#!/usr/bin/env python3
"""Steadiness check: two sets of untraced runs per workload must agree.

    python3 perfbench/steady.py [--runs 5] [--workload web-head ...]

Run from the repository root. For each workload it makes ``--runs`` runs
with seeds 1..N (set A) and ``--runs`` runs with seeds 101..100+N (set B),
each a fresh ``perfbench/run.py`` process. For every end-to-end metric it
prints each set's median and quartiles, the spread of all runs (the
interquartile range as a share of the median) and the shift of set B's
median against set A's in the metric's worse direction.

It exits 1 when, for any metric, the spread exceeds the metric's bound in
BENCHMARK.json (``setup_s`` excepted), the shift exceeds the bound, or the
share of failed operations differs between the sets.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spec import BENCHMARK, END_TO_END, WORKLOAD_NAMES  # noqa: E402


def one_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed}: run failed with code {p.returncode}")
    return json.loads(lines[-1])


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=5, help="runs per set (two sets)")
    ap.add_argument("--workload", action="append", choices=WORKLOAD_NAMES)
    a = ap.parse_args(argv)
    seconds = BENCHMARK["run_seconds"]
    ok = True
    record = {}
    for w in a.workload or WORKLOAD_NAMES:
        sets = []
        for base in (0, 100):
            runs = []
            for i in range(1, a.runs + 1):
                runs.append(one_run(w, base + i, seconds))
                print(f"# {w} seed {base + i}: attempted {runs[-1]['attempted']} "
                      f"failed {runs[-1]['failed']}", file=sys.stderr, flush=True)
            sets.append(runs)
        shares = [{r["failed"] / r["attempted"] for r in runs} for runs in sets]
        same_share = len(shares[0] | shares[1]) == 1
        print(f"\n{w}: {a.runs}+{a.runs} runs, failed share A {sorted(shares[0])} "
              f"B {sorted(shares[1])}, attempted A {sets[0][0]['attempted']}")
        print(f"  {'metric':27s} {'bound':>5s} | {'A q1':>10s} {'A med':>10s} {'A q3':>10s} | "
              f"{'B q1':>10s} {'B med':>10s} {'B q3':>10s} | {'spread':>6s} {'shift':>6s}")
        ok &= same_share and all(r["correct"] for runs in sets for r in runs)
        rows = {}
        for m in END_TO_END:
            name, bound = m["name"], m["bound"]
            a_vals = [r["metrics"][name]["value"] for r in sets[0]]
            b_vals = [r["metrics"][name]["value"] for r in sets[1]]
            qa, qb = quartiles(a_vals), quartiles(b_vals)
            q1, med, q3 = quartiles(a_vals + b_vals)
            spread = (q3 - q1) / med
            sign = 1 if m["better"] == "lower" else -1
            shift = sign * (qb[1] - qa[1]) / qa[1]
            bad = shift > bound or (name != "setup_s" and spread > bound)
            ok &= not bad
            rows[name] = {"A": qa, "B": qb, "spread": spread, "shift": shift, "bound": bound}
            print(f"  {name:27s} {bound:5.2f} | {qa[0]:10.4g} {qa[1]:10.4g} {qa[2]:10.4g} | "
                  f"{qb[0]:10.4g} {qb[1]:10.4g} {qb[2]:10.4g} | {spread:6.3f} {shift:+6.3f}"
                  f"{'  FAIL' if bad else ''}")
        record[w] = {"runs": a.runs, "metrics": rows, "same_failed_share": same_share}
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    with open(os.path.join(HERE, "out", "steady.json"), "w") as f:
        json.dump(record, f, indent=1)
    print("\nsteady" if ok else "\nNOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
