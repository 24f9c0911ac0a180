#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics: for each workload, runs
with seeds 1..N; for each metric, the distance between the first and third
quartile of the values as a share of their median, next to its bound.

    python3 perfbench/spread.py [--runs N] [--seconds S] [workload ...]

Run from the repository root. Runs are sequential; every result line is
kept in perfbench/.work/spread.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

import run


def bench_config():
    with open("BENCHMARK.json") as f:
        return json.load(f)


def main():
    cfg = bench_config()
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=cfg["run_seconds"])
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("workloads", nargs="*", default=[w["name"] for w in cfg["workloads"]])
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in cfg["end_to_end"]}
    log = open(os.path.join(run.WORK, "spread.jsonl"), "a")
    for w in a.workloads:
        values = {m: [] for m in bounds}
        walls = []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(run.BENCH, "run.py"),
                                "--workload", w, "--seed", str(seed),
                                "--seconds", str(a.seconds), "--trace", "0"],
                               stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            walls.append(time.time() - t0)
            if p.returncode != 0:
                print(f"{w} seed {seed}: exit {p.returncode}", flush=True)
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            log.write(json.dumps({"workload": w, "seed": seed, "wall_s": walls[-1],
                                  "result": res}) + "\n")
            log.flush()
            if not res["correct"]:
                print(f"{w} seed {seed}: NOT CORRECT {res}", flush=True)
            for m in values:
                values[m].append(res["metrics"][m]["value"])
        print(f"== {w}: {len(values['setup_s'])} runs, wall per run "
              f"{statistics.median(walls):.1f} s (max {max(walls):.1f})")
        for m, vs in values.items():
            if len(vs) < 4:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            flag = "" if spread < bounds[m] / 3 else "  <-- above a third of the bound"
            print(f"  {m:12s} median {med:12.4f}  spread {spread:.4f}  "
                  f"bound {bounds[m]}{flag}", flush=True)


if __name__ == "__main__":
    main()
