#!/usr/bin/env python3
"""Steadiness check: runs the benchmark on two sets of seeds and checks that
the two sets agree within each end-to-end metric's bound.

    python3 benchmark/steadiness.py [--runs 10] [--first-seed 1] [workload ...]

Run from the root of a checkout; workloads default to those in
BENCHMARK.json. The first set uses seeds first-seed .. first-seed+runs-1,
the second the next `runs` seeds. For each set and metric it prints the
median, the quartiles (statistics.quantiles, n=4) and the spread, the
distance between the quartiles as a share of the median, marking a spread
above a third of the bound ("wide") or above the bound ("OVER"). It exits
non-zero when a run fails, or when for some metric the second set's median
is worse than the first's by more than the bound.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run_set(wl, seeds, seconds):
    values = {}
    for seed in seeds:
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            stdout=subprocess.PIPE, text=True)
        if out.returncode != 0:
            sys.exit("%s seed %d failed:\n%s" % (wl, seed, out.stdout))
        result = json.loads(out.stdout.strip().splitlines()[-1])
        for k, m in result["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print("%s seed %d: %s" % (wl, seed, " ".join(
            "%s=%.4f" % (k, m["value"]) for k, m in result["metrics"].items())),
            flush=True)
    return values


def summary(wl, label, values, bounds):
    medians = {}
    for k, xs in values.items():
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / q2
        mark = "OVER" if spread > bounds[k] else "wide" if spread > bounds[k] / 3 else ""
        print("%-16s %s %-12s median %.4f  q1 %.4f  q3 %.4f  spread %.4f  "
              "bound %.2f %s" % (wl, label, k, q2, q1, q3, spread, bounds[k], mark),
              flush=True)
        medians[k] = q2
    return medians


def main():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("workloads", nargs="*",
                    default=[w["name"] for w in bench["workloads"]])
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    lower = {m["name"]: m["better"] == "lower" for m in bench["end_to_end"]}
    agree = True
    for wl in a.workloads:
        first = range(a.first_seed, a.first_seed + a.runs)
        second = range(a.first_seed + a.runs, a.first_seed + 2 * a.runs)
        m1 = summary(wl, "set 1", run_set(wl, first, bench["run_seconds"]), bounds)
        m2 = summary(wl, "set 2", run_set(wl, second, bench["run_seconds"]), bounds)
        for k in m1:
            worse = (m2[k] - m1[k] if lower[k] else m1[k] - m2[k]) / m1[k]
            ok = worse <= bounds[k]
            agree &= ok
            print("%-16s %-12s set 2 worse than set 1 by %+.4f of its median, "
                  "bound %.2f %s" % (wl, k, worse, bounds[k], "" if ok else "DISAGREE"),
                  flush=True)
    return 0 if agree else 1


if __name__ == "__main__":
    sys.exit(main())
