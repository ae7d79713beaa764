#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload analytics --seeds 1-10

Runs the benchmark once per seed (untraced) and prints, for every
end-to-end metric, the median of the runs and the distance between the
first and third quartiles as a share of that median, next to the metric's
bound from BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last, inclusive")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    first, last = map(int, a.seeds.split("-"))
    runs = []
    for seed in range(first, last + 1):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, check=True).stdout
        line = json.loads(out.strip().splitlines()[-1])
        runs.append(line)
        print(seed, line["correct"], line["failed"],
              {k: round(v["value"], 4) for k, v in line["metrics"].items()}, flush=True)
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        print(f"{m['name']:14s} median {med:10.4f}  spread {(q3 - q1) / med:6.3f}  "
              f"bound {m['bound']}")


if __name__ == "__main__":
    main()
