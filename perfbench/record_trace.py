#!/usr/bin/env python3
"""Records one traced run of a workload next to an untraced run of the
same seed, and writes both results, the span trace and its summary to
perfbench/results/trace-<workload>-<seed>/. The tracing overhead is the
traced job_s over the untraced one.

Usage (from the repository root):
  python3 perfbench/record_trace.py <workload> <seed>
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, trace):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", seed,
                        "--seconds", "5", "--trace", trace],
                       cwd=ROOT, capture_output=True, text=True, check=True)
    return json.loads(r.stdout.strip().splitlines()[-1])


def main(workload, seed):
    out = os.path.join(HERE, "results", f"trace-{workload}-{seed}")
    os.makedirs(out, exist_ok=True)
    traced = run(workload, seed, "1")
    spans = os.path.join(ROOT, ".bench_build", "traces",
                         f"trace-{workload}-{seed}.jsonl")
    shutil.copy(spans, os.path.join(out, "spans.jsonl"))
    untraced = run(workload, seed, "0")
    summary = subprocess.run(
        [sys.executable, os.path.join(HERE, "trace_summary.py"), spans],
        capture_output=True, text=True, check=True).stdout
    s = json.loads(summary)
    s["traced_job_s"] = traced["metrics"]["trace.job_s"]["value"]
    s["untraced_job_s"] = untraced["metrics"]["job_s"]["value"]
    s["tracing_overhead"] = s["traced_job_s"] / s["untraced_job_s"]
    for name, res in (("traced.json", traced), ("untraced.json", untraced),
                      ("summary.json", s)):
        with open(os.path.join(out, name), "w") as fh:
            json.dump(res, fh, indent=1)
            fh.write("\n")
    print(json.dumps(s, indent=1))


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
