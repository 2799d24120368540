#!/usr/bin/env python3
"""Steadiness check: two sets of runs of one commit.

  python3 perfbench/steady.py [--runs 5] [--workloads catalog,logs_drain]
                              [--out report.json]

Run from the repository root. For every workload it makes `--runs`
untraced runs with seeds 1..N (set A), then N more with seeds N+1..2N
(set B), then one traced run. Per workload and end-to-end metric it
reports each set's median and spread (interquartile range / median, as
statistics.quantiles(n=4) gives the quartiles), whether each spread is
within the metric's bound in BENCHMARK.json (setup_s is exempt), whether
set B's median is no worse than set A's by more than the bound, the pooled
spread of all 2N runs, and the tracing overhead: the traced run's value of
each end-to-end metric divided by the pooled untraced median.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=200)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{' '.join(cmd)} failed ({p.returncode}):\n{p.stderr[-2000:]}")
    r = json.loads(lines[-1])
    if not r["correct"]:
        raise SystemExit(f"{' '.join(cmd)} reported incorrect output:\n{p.stdout[-2000:]}")
    return {k: v["value"] for k, v in r["metrics"].items()}


def spread(xs):
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--workloads")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    seconds = spec["run_seconds"]
    n = a.runs
    sets = {w: ([], []) for w in names}
    for s, seeds in enumerate((range(1, n + 1), range(n + 1, 2 * n + 1))):
        for w in names:
            for seed in seeds:
                sets[w][s].append(run(w, seed, seconds, 0))
                print(f"set {'AB'[s]} {w} seed {seed}: {sets[w][s][-1]}", file=sys.stderr)
    report, ok = {}, True
    for w in names:
        traced = run(w, 2 * n + 1, seconds, 1)
        rows = {}
        for m in spec["end_to_end"]:
            k, bound = m["name"], m["bound"]
            xa = [r[k] for r in sets[w][0]]
            xb = [r[k] for r in sets[w][1]]
            ma, mb = statistics.median(xa), statistics.median(xb)
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            sa, sb, pooled = spread(xa), spread(xb), spread(xa + xb)
            agree = worse <= bound and (k == "setup_s" or (sa <= bound and sb <= bound))
            ok = ok and agree
            rows[k] = {"bound": bound, "median_a": ma, "median_b": mb, "spread_a": sa,
                       "spread_b": sb, "spread_pooled": pooled, "b_worse_by": worse,
                       "agree": agree,
                       "overhead": traced.get(f"traced.{k}", float("nan")) / statistics.median(xa + xb)}
            print(f"{w:13s} {k:11s} A {ma:12.4f} ({sa:.3f})  B {mb:12.4f} ({sb:.3f})  "
                  f"pooled {pooled:.3f}  bound {bound}  B worse {worse:+.3f}  "
                  f"overhead {rows[k]['overhead']:.3f}  {'ok' if agree else 'DISAGREE'}")
        report[w] = {"runs_per_set": n, "metrics": rows, "traced": traced}
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
    print("steady" if ok else "NOT steady")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
