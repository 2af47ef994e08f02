#!/usr/bin/env python3
"""Tracing overhead: runs one workload untraced and traced with the same
seed and prints each end-to-end metric of both runs and their difference
(traced minus untraced).

Usage (from the repository root):
  python3 perfbench/overhead.py --workload <name> --seed <n> [--seconds 30]
"""
import argparse
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def run(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, text=True, check=True).stdout.splitlines()
    if trace:
        return json.loads(out[-2])["traced_end_to_end"]
    return {k: v["value"] for k, v in json.loads(out[-1])["metrics"].items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=30)
    a = ap.parse_args()
    plain = run(a.workload, a.seed, a.seconds, 0)
    traced = run(a.workload, a.seed, a.seconds, 1)
    rows = {k: {"untraced": plain[k], "traced": traced[k], "overhead": traced[k] - plain[k],
                "overhead_share": (traced[k] - plain[k]) / plain[k] if plain[k] else None}
            for k in plain}
    print(json.dumps({"workload": a.workload, "seed": a.seed, "tracing_overhead": rows}))


if __name__ == "__main__":
    main()
