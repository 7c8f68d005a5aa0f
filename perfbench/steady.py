#!/usr/bin/env python3
"""Steadiness and tracing-overhead checks for the benchmark.

Usage (from the root of a checkout):
    python3 perfbench/steady.py [--runs 10] [--overhead]

Default mode runs two sets of `--runs` untraced runs of every workload
(each run with its own seed, seeds 1, 2, ... across both sets, workloads
interleaved) and prints, per workload and end-to-end metric, each set's
median and quartiles, the spread (quartile distance over median) and
whether the sets agree: both spreads within the metric's bound from
`BENCHMARK.json`, and the second set's median within the bound of the
first's, in either direction.

`--overhead` instead runs each seed untraced and traced and prints, per
metric, the median of (traced - untraced) / untraced.

Raw results go to `.bench_out/steady-<mode>.json`. Exits 1 when a run failed
or the sets disagree.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SETS = 2


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True)
    print(f"  ({workload} seed {seed} trace {trace}: {time.time() - t0:.1f} s wall)", flush=True)
    lines = p.stdout.strip().splitlines()
    try:
        last = json.loads(lines[-1])
    except (IndexError, ValueError):
        last = None
    if p.returncode != 0 or not last or not last["correct"]:
        sys.stderr.write(p.stdout[-3000:] + p.stderr[-3000:])
        return None, None
    e2e = next((json.loads(x[4:]) for x in lines if x.startswith("e2e ")), None)
    return {k: v["value"] for k, v in last["metrics"].items()}, e2e


def quartiles(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def steady(a, spec, workloads):
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    raw = {w: [[] for _ in range(SETS)] for w in workloads}
    failed = 0
    for s in range(SETS):
        for i in range(a.runs):
            seed = 1 + s * a.runs + i
            for w in workloads:
                m, _ = run(w, seed, spec["run_seconds"], 0)
                print(f"set {s + 1} {w} seed {seed}: " + (json.dumps(m) if m else "FAILED"),
                      flush=True)
                if m:
                    raw[w][s].append(m)
                else:
                    failed += 1
    ok = failed == 0
    print(f"\n{'workload':10} {'metric':14} " +
          " ".join(f"{'set' + str(s + 1) + ' median [q1, q3]':>34} {'spread':>7}"
                   for s in range(SETS)) + f" {'drift':>7}  verdict")
    for w in workloads:
        for name, bound in bounds.items():
            cols, medians, good = [], [], True
            for s in range(SETS):
                vals = [r[name] for r in raw[w][s]]
                if len(vals) < 2:
                    good = False
                    cols.append(f"{'n/a':>34} {'':>7}")
                    continue
                q1, q2, q3 = quartiles(vals)
                spread = (q3 - q1) / q2
                medians.append(q2)
                if spread > bound:
                    good = False
                cols.append(f"{q2:12.4f} [{q1:9.4f}, {q3:9.4f}] {spread:7.3f}")
            drift = (medians[1] - medians[0]) / medians[0] if len(medians) == SETS else 0.0
            if abs(drift) > bound:
                good = False
            ok &= good
            print(f"{w:10} {name:14} " + " ".join(cols) +
                  f" {drift:7.3f}  {'agree' if good else 'DISAGREE'} (bound {bound})")
    return ok, raw


def overhead(a, spec, workloads):
    raw, ok = {w: [] for w in workloads}, True
    for i in range(a.runs):
        seed = 1 + i
        for w in workloads:
            plain, _ = run(w, seed, spec["run_seconds"], 0)
            _, traced = run(w, seed, spec["run_seconds"], 1)
            if not plain or not traced:
                ok = False
                continue
            raw[w].append({k: (traced[k] - v) / v for k, v in plain.items() if v})
            print(f"{w} seed {seed}: " + json.dumps(raw[w][-1]), flush=True)
    print(f"\n{'workload':10} {'metric':14} traced/untraced - 1 (median)")
    for w in workloads:
        for name in (m["name"] for m in spec["end_to_end"]):
            vals = [r[name] for r in raw[w] if name in r]
            if vals:
                print(f"{w:10} {name:14} {statistics.median(vals):+.3f}")
    return ok, raw


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--overhead", action="store_true")
    a = p.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    workloads = [w["name"] for w in spec["workloads"]]
    ok, raw = (overhead if a.overhead else steady)(a, spec, workloads)
    os.makedirs(".bench_out", exist_ok=True)
    with open(os.path.join(".bench_out",
                           f"steady-{'overhead' if a.overhead else 'sets'}.json"), "w") as fh:
        json.dump(raw, fh)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
