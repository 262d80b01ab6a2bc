#!/usr/bin/env python3
"""Runs the benchmark on several seeds and reports, per end-to-end metric,
the median and the quartile spread (Q3 - Q1) / median, next to the bound
BENCHMARK.json sets, plus how long each run took.

    python3 perfbench/spread.py --workloads miw_summary,gate_iterative --seeds 10

Run from the repository root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for w in a.workloads.split(","):
        values, took, bad = {}, [], 0
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]),
                                      "--trace", "0"]
            t0 = time.time()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            took.append(time.time() - t0)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
                bad += 1
                continue
            res = json.loads(lines[-1])
            walls = [x for x in lines if x.startswith("load:")]
            bad += not res["correct"]
            for n, m in res["metrics"].items():
                values.setdefault(n, []).append(m["value"])
            print(f"{w} seed {seed}: {took[-1]:.1f} s, " + ", ".join(
                f"{n}={m['value']:.4g}" for n, m in res["metrics"].items()), flush=True)
            if walls:
                print("   " + walls[0].split("; run walls (s) ")[-1], flush=True)
        print(f"== {w}: {len(took)} runs, {bad} bad, run time median "
              f"{statistics.median(took):.1f} s, max {max(took):.1f} s")
        for n, vs in values.items():
            med = statistics.median(vs)
            q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med, med, med]
            spread = (q[2] - q[0]) / med if med else float("nan")
            print(f"   {n}: median {med:.4g}, spread {spread:.3f}, bound {bounds.get(n)}")
    sys.stdout.flush()


if __name__ == "__main__":
    main()
