#!/usr/bin/env python3
"""Steadiness report: two sets of runs of the same commit.

    python3 perfbench/steady.py

Runs `run.py` ten times per workload in each of two sets, each run with its
own seed (set s, run i uses seed 1000*s + i) and BENCHMARK.json's
run_seconds, then one traced run per workload. For
each workload and end-to-end metric it prints each set's median and
quartiles, the spread (q3 - q1) / median, and whether the sets' medians
agree within the metric's bound from BENCHMARK.json. The spread of every
metric but setup_s should stay under a third of its bound. Run from the
root of a checkout, alone on the machine.
"""
import json
import os
import statistics
import subprocess
import sys


SETS = 2
RUNS = 10


def one(workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-2000:] + r.stderr[-3000:])
        raise SystemExit(f"run failed: {workload} seed {seed} (exit {r.returncode})")
    out = json.loads(lines[-1])
    if not out["correct"]:
        print(f"  {workload} seed {seed}: INCORRECT, {out['failed']}/{out['attempted']} failed")
    return out


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for w in (w["name"] for w in bench["workloads"]):
        sets = []
        for s in range(1, SETS + 1):
            runs = []
            for i in range(1, RUNS + 1):
                runs.append(one(w, 1000 * s + i, seconds, 0)["metrics"])
                print(f"  {w} set {s} run {i}: " + " ".join(
                    f"{m}={runs[-1][m]['value']:.4g}" for m in bounds), flush=True)
            sets.append({m: [r[m]["value"] for r in runs] for m in bounds})
        print(f"== {w}: {SETS} sets x {RUNS} runs, {seconds} s each")
        for m, bound in bounds.items():
            cells, meds = [], []
            for st in sets:
                q1, med, q3 = statistics.quantiles(st[m], n=4)
                spread = (q3 - q1) / med
                meds.append(med)
                steady = m == "setup_s" or spread <= bound / 3
                ok &= steady
                cells.append(f"median {med:12.4f} [q1 {q1:12.4f} q3 {q3:12.4f}] "
                             f"spread {spread:6.3f}{'' if steady else ' (> bound/3)'}")
            drift = max(meds) / min(meds) - 1
            agree = drift <= bound
            ok &= agree
            print(f"  {m:>18} bound {bound:.2f}  " + "  |  ".join(cells)
                  + f"  sets differ {drift:.3f}: {'agree' if agree else 'DISAGREE'}")
        t = one(w, 999, seconds, 1)["metrics"]["trace.overhead_frac"]["value"]
        print(f"  trace.overhead_frac {t:.4f}")
    print("steady" if ok else "NOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    if not os.path.isfile("BENCHMARK.json"):
        raise SystemExit("run from the root of a checkout (BENCHMARK.json missing)")
    sys.exit(main())
