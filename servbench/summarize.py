#!/usr/bin/env python3
"""Summarize servbench result files: per workload and metric, the median,
the quartiles and the spread (interquartile range over the median) next to
the metric's bound in BENCHMARK.json.

Usage:
    python3 servbench/summarize.py [RESULT_FILE ...]

Result files are the JSON files each run writes to servbench/target/results/
(the default set). Quartiles are Python's statistics.quantiles(values, n=4).
"""
import glob
import json
import os
import statistics
import sys

HOME = os.path.dirname(os.path.abspath(__file__))


def load_bounds():
    path = os.path.join(os.path.dirname(HOME), "BENCHMARK.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        spec = json.load(f)
    return {m["name"]: m for m in spec.get("end_to_end", []) + spec.get("per_layer", [])}


def main(paths):
    files = paths or sorted(glob.glob(os.path.join(HOME, "target", "results", "*.json")))
    if not files:
        sys.exit("no result files")
    bounds = load_bounds()
    groups = {}
    for path in files:
        with open(path) as f:
            r = json.load(f)
        key = (r["workload"], "traced" if r["trace"] else "untraced")
        g = groups.setdefault(key, {"runs": 0, "failed": 0, "metrics": {}, "report": {}})
        g["runs"] += 1
        g["failed"] += r["result"]["failed"]
        for name, m in r["result"]["metrics"].items():
            g["metrics"].setdefault(name, (m["unit"], []))[1].append(m["value"])
        for name, m in r.get("report", {}).items():
            if m["value"] is not None:
                g["report"].setdefault(name.split("(")[0], (m["unit"], []))[1].append(m["value"])

    for (workload, mode), g in sorted(groups.items()):
        print(f"\n{workload} ({mode}): {g['runs']} runs, {g['failed']} failed operations")
        print(f"  {'metric':34} {'unit':6} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7} {'bound':>6} {'spread/bound':>12}")
        for name, (unit, values) in g["metrics"].items():
            med = statistics.median(values)
            q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
            spread = (q3 - q1) / med if med else float("nan")
            bound = bounds.get(name, {}).get("bound")
            rel = f"{spread / bound:12.2f}" if bound else f"{'-':>12}"
            print(f"  {name:34} {unit:6} {med:12.4g} {q1:12.4g} {q3:12.4g} {spread:7.3f} "
                  f"{bound if bound else '-':>6} {rel}")
        if g["report"]:
            print("  report metrics (medians): " + ", ".join(
                f"{n}={statistics.median(v):.4g} {u}" for n, (u, v) in g["report"].items()))


if __name__ == "__main__":
    main(sys.argv[1:])
