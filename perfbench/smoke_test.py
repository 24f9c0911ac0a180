#!/usr/bin/env python3
"""Benchmark smoke test: every workload, briefly, on the sf0.001 corpus.

    python3 perfbench/smoke_test.py

Run from the repository root. For each workload (those in BENCHMARK.json
and those run by hand only) it makes one untraced and one traced run and
checks that the result line is the last line of standard output, that every
end-to-end (untraced) or per-layer (traced) metric of BENCHMARK.json is
printed with its unit, and that the run is correct with no failed
operation (error rate 0). Exits non-zero on the first violation.
"""
import json
import os
import subprocess
import sys

import run

SECONDS = 2


def check(workload, trace, cfg):
    p = subprocess.run([sys.executable, os.path.join(run.BENCH, "run.py"),
                        "--workload", workload, "--seed", "7", "--seconds", str(SECONDS),
                        "--trace", str(trace), "--sf", "0.001"],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)
    assert p.returncode == 0, f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}"
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1, \
        f"{workload} trace={trace}: {res['correct']=} {res['failed']=} {res['attempted']=}"
    want = cfg["per_layer"] if trace else cfg["end_to_end"]
    for m in want:
        got = res["metrics"].get(m["name"])
        assert got is not None, f"{workload} trace={trace}: {m['name']} missing"
        assert got["unit"] == m["unit"], f"{m['name']}: unit {got['unit']} != {m['unit']}"
        assert isinstance(got["value"], (int, float)), f"{m['name']}: {got['value']!r}"
    assert set(res["metrics"]) == {m["name"] for m in want}, \
        f"{workload} trace={trace}: unexpected metrics"
    print(f"ok  {workload:12s} trace={trace}  attempted={res['attempted']}", flush=True)


def main():
    with open("BENCHMARK.json") as f:
        cfg = json.load(f)
    # the gated workloads first, then those run by hand only
    gated = [w["name"] for w in cfg["workloads"]]
    workloads = gated + [w for w in run.WORKLOADS if w not in gated]
    for w in workloads:
        for trace in (0, 1):
            check(w, trace, cfg)
    print("smoke test passed")


if __name__ == "__main__":
    main()
