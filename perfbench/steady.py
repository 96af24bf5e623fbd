#!/usr/bin/env python3
"""Run workloads several times with different seeds and show how steady
each end-to-end metric is.

    python3 perfbench/steady.py [--runs 10] [--sets 1] [--first-seed 1] [workload ...]

For each workload, set and metric it prints the median, the quartiles
(statistics.quantiles(values, n=4)), the interquartile spread and the
full range, both as a share of the median, next to the metric's bound in
BENCHMARK.json. A spread above a third of its bound is flagged. With
--sets 2 or more it runs that many sets of --runs runs (each set on new
seeds) and prints how far each later set's median moved from the first,
as a share of the first, flagged where it is worse by more than the bound.
Also prints each run's wall time, so the cost of a round of runs can be
estimated. Run from the root of a checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_set(spec, w, seeds, bounds):
    """Run `w` once per seed; print the spread table; return the medians."""
    values, walls, bad = {}, [], 0
    for seed in seeds:
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                            "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                            "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
        walls.append(time.time() - t0)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
            bad += 1
            continue
        r = json.loads(lines[-1])
        bad += 0 if r["correct"] and r["failed"] == 0 else 1
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"{w} seed {seed}: {walls[-1]:.1f} s  " +
              "  ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
    print(f"\n{w} seeds {seeds[0]}-{seeds[-1]}: {len(walls)} runs, {bad} not correct, "
          f"wall per run median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    print(f"{'metric':16} {'median':>10} {'q1':>10} {'q3':>10} {'iqr/med':>8} "
          f"{'range/med':>9} {'bound':>6}")
    medians = {}
    for k, vs in values.items():
        med = medians[k] = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
        iqr, rng = (q3 - q1) / med, (max(vs) - min(vs)) / med
        flag = "  <-- above bound/3" if iqr > bounds[k] / 3 else ""
        print(f"{k:16} {med:10.4g} {q1:10.4g} {q3:10.4g} {iqr:8.3f} {rng:9.3f} "
              f"{bounds[k]:6.2f}{flag}")
    print(flush=True)
    return medians


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("workloads", nargs="*", default=[w["name"] for w in spec["workloads"]])
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    lower = {m["name"]: m["better"] == "lower" for m in spec["end_to_end"]}
    for w in a.workloads:
        sets = []
        for i in range(a.sets):
            first = a.first_seed + i * a.runs
            sets.append(one_set(spec, w, list(range(first, first + a.runs)), bounds))
        for i, later in enumerate(sets[1:], 2):
            print(f"{w}: set {i} median vs set 1 (positive = worse)")
            for k, m1 in sets[0].items():
                worse = (later[k] - m1) / m1 * (1 if lower[k] else -1)
                flag = "  <-- worse by more than the bound" if worse > bounds[k] else ""
                print(f"  {k:16} {m1:10.4g} -> {later[k]:10.4g}  {worse:+.3f}  "
                      f"bound {bounds[k]:.2f}{flag}")
            print(flush=True)


if __name__ == "__main__":
    main()
