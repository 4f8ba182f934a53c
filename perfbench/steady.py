#!/usr/bin/env python3
"""Check that the benchmark is steady: run one workload on several seeds
and print each end-to-end metric's median and interquartile spread
(as a share of the median) next to a third of its bound.

    python3 perfbench/steady.py --workload sql_rw --seeds 1-10

Run from the repository root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {m: [] for m in bounds}
    for seed in seeds(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]),
                                  "--trace", "0"]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        result = json.loads(r.stdout.strip().splitlines()[-1])
        if not result["correct"] or result["failed"]:
            print(f"seed {seed}: incorrect or failed operations", file=sys.stderr)
        for m in bounds:
            values[m].append(result["metrics"][m]["value"])
        with open(os.path.join(".bench_build", "reports",
                               f"{args.workload}-seed{seed}-trace0.json")) as f:
            steal = json.load(f)["host_steal_pct"]
        print(json.dumps({"seed": seed, **{m: round(v[-1], 4)
                                           for m, v in values.items()},
                          "host_steal_pct": round(steal, 1)}))
    for m, vs in values.items():
        print(f"{m:14s} median {statistics.median(vs):10.4f}  spread "
              f"{stats.spread(vs):.4f}  bound/3 {bounds[m] / 3:.4f}")


if __name__ == "__main__":
    main()
