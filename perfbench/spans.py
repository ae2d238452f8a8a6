#!/usr/bin/env python3
"""Summarise the spans a traced run wrote.

Usage: python3 perfbench/spans.py .bench_build/runs/<workload>-seed<n>-trace1.spans.jsonl

Per span name (engine call or benchmark op): count, median wall time, Spark
jobs and task CPU seconds in its subtree, and busy cores (task CPU over
wall). Jobs are the `exec` spans; each names the span whose call submitted it.
"""
import collections
import json
import statistics
import sys


def main():
    spans = [json.loads(l) for l in open(sys.argv[1]) if l.strip()]
    kids = collections.defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)

    def subtree(s):
        jobs, cpu = 0, s["task_cpu_ns"]
        for c in kids[s["id"]]:
            if c["layer"] == "exec":
                jobs += 1
                cpu += c["task_cpu_ns"]
            else:
                j, u = subtree(c)
                jobs += j
                cpu += u
        return jobs, cpu

    rows = collections.defaultdict(list)
    for s in spans:
        if s["layer"] != "exec":
            jobs, cpu = subtree(s)
            rows[(s["layer"], s["name"])].append(
                ((s["end_us"] - s["start_us"]) / 1e6, jobs, cpu / 1e9))
    print(f"{'layer':10} {'name':28} {'n':>3} {'wall_s':>8} {'jobs':>6} "
          f"{'cpu_s':>7} {'busy_cores':>10}")
    for (layer, name), xs in sorted(rows.items()):
        wall = statistics.median(x[0] for x in xs)
        jobs = statistics.median(x[1] for x in xs)
        cpu = statistics.median(x[2] for x in xs)
        print(f"{layer:10} {name:28} {len(xs):3d} {wall:8.3f} {jobs:6.0f} "
              f"{cpu:7.3f} {cpu / wall if wall else 0:10.2f}")


if __name__ == "__main__":
    main()
