#!/usr/bin/env python3
"""Spread of repeated benchmark runs.

Runs the benchmark once per seed and reports, per metric, the median and
the distance between the first and third quartile as a share of the
median (statistics.quantiles(values, n=4)), next to the metric's bound.

Usage (from the repository root):
  python3 perfbench/spread.py <workload> <seed> [<seed> ...] [--out FILE]
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    args = sys.argv[1:]
    out = None
    if "--out" in args:
        i = args.index("--out")
        out = args[i + 1]
        del args[i:i + 2]
    workload, seeds = args[0], args[1:]
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    for s in seeds:
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             workload, "--seed", s, "--seconds", str(bench["run_seconds"]),
             "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
        if r.returncode != 0:
            sys.exit(f"seed {s}: exit {r.returncode}: {r.stderr.strip()}")
        res = json.loads(r.stdout.strip().splitlines()[-1])
        res["seed"] = int(s)
        runs.append(res)
        print(json.dumps(res), flush=True)
    summary = {"workload": workload, "seeds": [int(s) for s in seeds],
               "all_correct": all(r["correct"] for r in runs),
               "metrics": {}}
    for name, bound in bounds.items():
        vals = [r["metrics"][name]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        summary["metrics"][name] = {
            "median": statistics.median(vals), "iqr_share": (q3 - q1) / med,
            "bound": bound, "values": vals}
        print(f"{name:16s} median {statistics.median(vals):12.4f} "
              f"iqr/median {(q3 - q1) / med:6.3f} bound {bound}")
    if out:
        with open(out, "w") as fh:
            json.dump({"runs": runs, "summary": summary}, fh, indent=1)


if __name__ == "__main__":
    main()
