#!/usr/bin/env python3
"""Run one workload with several seeds and report, per end-to-end metric,
the median and the spread: the distance between the first and third
quartiles (statistics.quantiles, n=4) as a share of the median, next to
the metric's bound from BENCHMARK.json.

    python3 perfbench/spread.py --workload gate --seeds 1-10 [--out runs.jsonl]

Run from the root of the repository.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    ap.add_argument("--out", help="append each run's result here")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    values = {}
    for seed in seeds(a.seeds):
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]),
                                  "--trace", "0"]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        if proc.returncode != 0:
            sys.exit(f"seed {seed}: exit {proc.returncode}")
        box, result = [json.loads(x)
                       for x in proc.stdout.strip().splitlines()[-2:]]
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps({"workload": a.workload, "seed": seed,
                                    "box": box["box"], "result": result}) + "\n")
        print(seed, result["correct"], result["attempted"], result["failed"],
              {k: round(v["value"], 4) for k, v in result["metrics"].items()},
              flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        print(f"{m['name']:>14} median {med:.4f} spread {(q3 - q1) / med:.4f}"
              f" bound {m['bound']}")


if __name__ == "__main__":
    main()
