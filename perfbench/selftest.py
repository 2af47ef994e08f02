#!/usr/bin/env python3
"""Self-test of the benchmark at its smallest sizes (sf0.001 tables, a
2-file feed). Checks that every end-to-end and per-layer metric is printed
with its unit, that a clean run is judged correct, and that a planted wrong
output (a corrupted expected digest, a dropped batch) raises the failed
share of operations.

Usage (from the repository root): python3 perfbench/selftest.py
Exits 0 when every assertion holds.
"""
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")

# the end-to-end metrics each workload reports under its own names
NAMED = {
    "star-perfile": {"setup_s": "s", "failed_ops_ratio": "ratio",
                     "records_per_s": "1/s", "batch_s.p50": "s"},
    "catalog-tpch": {"setup_s": "s", "failed_ops_ratio": "ratio", "query_s.p50": "s",
                     "query_s.p90": "s", "pass_s.p50": "s"},
}
PLANT = {"star-perfile": "drop-batch", "catalog-tpch": "digest"}
# seeds of the planted runs; seed 29 plants the fault on q227_important_stock,
# whose expected result is empty
PLANT_SEEDS = {"star-perfile": (7,), "catalog-tpch": (7, 29)}


def bench(workload, trace, plant="none", seed=7):
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed), "--seconds", "1",
         "--trace", str(trace), "--plant", plant, "--small"],
        stdout=subprocess.PIPE, text=True, check=True).stdout.splitlines()
    return json.loads(out[0]), json.loads(out[-1])


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    problems = []

    def expect(cond, what):
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            problems.append(what)

    for w in NAMED:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            summary, result = bench(w, trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            expect(got == want, f"{w} trace={trace}: every {key} metric printed with its unit")
            expect(result["correct"] and result["failed"] == 0,
                   f"{w} trace={trace}: clean run judged correct")
            named = {k: v["unit"] for k, v in summary["metrics"].items()}
            expect(named == NAMED[w], f"{w} trace={trace}: workload metrics {sorted(NAMED[w])}")
            expect(summary["metrics"]["failed_ops_ratio"]["value"] == 0.0,
                   f"{w} trace={trace}: failed_ops_ratio is 0")
        for seed in PLANT_SEEDS[w]:
            summary, result = bench(w, 0, PLANT[w], seed)
            ratio = summary["metrics"]["failed_ops_ratio"]["value"]
            expect(not result["correct"] and result["failed"] > 0 and ratio > 0,
                   f"{w} seed {seed} with a planted {PLANT[w]}: failed_ops_ratio {ratio:.3f} > 0")
            if PLANT[w] == "digest":
                victim = summary["info"]["planted_victim"]
                names = [c["name"] for c in summary["failed_checks"]]
                expect(bool(names) and all(n.endswith("-" + victim) for n in names),
                       f"{w} seed {seed}: the failed checks are the planted query's ({victim}): {names}")

    print("self-test " + ("passed" if not problems else f"FAILED: {problems}"))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
