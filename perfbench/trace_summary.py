#!/usr/bin/env python3
"""Summarises a span trace written by a --trace 1 run.

For each measured pass (pass >= 1) it sums the self time of every span
under the pass by layer: the part of a span's wall not covered by its
children. The spans run on one thread, so they form the blocking path.
It also reports how much of the pass wall the layer spans account for.

Usage: python3 perfbench/trace_summary.py .bench_build/traces/<file>.jsonl
"""
import collections
import json
import sys


def main(path):
    spans = [json.loads(l) for l in open(path) if l.strip()]
    passes = [s for s in spans if s["name"] == "pass" and s["pass"] >= 1]
    out = {"trace": path.rsplit("/", 1)[-1], "passes": []}
    for p in passes:
        wall = (p["end_ns"] - p["start_ns"]) / 1e9
        layers = collections.Counter()
        for s in spans:
            if s["pass"] != p["pass"] or s["id"] == p["id"]:
                continue
            layer = s["name"].split(":")[0].split(".")[0]
            layers[layer] += s["self_s"]
        inside = sum(layers.values())
        out["passes"].append({
            "pass": p["pass"], "job_s": wall,
            "self_s_by_layer": dict(sorted(layers.items(),
                                           key=lambda kv: -kv[1])),
            "layer_self_sum_s": inside,
            "unattributed_s": p["self_s"],
            "accounted_share": inside / wall,
        })
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main(sys.argv[1])
