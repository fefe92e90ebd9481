#!/usr/bin/env python3
"""Run the benchmark over several seeds and record every run.

    python3 perfbench/sweep.py --out runs.jsonl [--workloads a,b] [--seeds 1-10]
        [--trace 0|1]

Runs `run.py` once per (seed, workload), one at a time, with BENCHMARK.json's
run_seconds, appending each result to --out for compare.py.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(text):
    lo, _, hi = text.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    out = os.path.abspath(a.out)
    for seed in a.seeds:
        for w in a.workloads.split(","):
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                                "--trace", a.trace, "--record", out],
                               stdout=subprocess.PIPE, text=True)
            last = r.stdout.strip().splitlines()[-1:] or ["(no output)"]
            print(f"{w} seed {seed}: exit {r.returncode} {last[0][:160]}", flush=True)


if __name__ == "__main__":
    main()
