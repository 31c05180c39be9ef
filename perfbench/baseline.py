#!/usr/bin/env python3
"""Summarise benchmark runs into a baseline record.

    python3 perfbench/baseline.py <run_record.json>... > baseline.json

Takes run records written by run.py (any workloads, one or more seeds
each) and prints, per workload, its "why" from BENCHMARK.json, the seeds
used, each metric's median and quartiles across the runs, the per-op
split of the traced runs (construct, plan, noop and count for query
ops; phase and per-model sink time for the medallion) as median and
quartiles of the per-run medians, and the tracing overhead: the traced
runs' median wall time over the untraced runs' median wall_s, minus 1.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def summary(xs):
    xs = sorted(xs)
    if len(xs) < 2:
        return {"median": xs[0], "q1": xs[0], "q3": xs[0], "n": len(xs)}
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return {"median": statistics.median(xs), "q1": q1, "q3": q3, "n": len(xs)}


def main(paths):
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        why = {w["name"]: w["why"] for w in json.load(fh)["workloads"]}
    runs = {}
    for p in paths:
        with open(p) as fh:
            rec = json.load(fh)
        runs.setdefault(rec["workload"], []).append(rec)
    out = {}
    for wl, recs in sorted(runs.items()):
        metric_vals, op_vals = {}, {}
        for r in recs:
            for k, m in r["result"]["metrics"].items():
                metric_vals.setdefault(k, []).append(m["value"])
            for op, parts in r["record"].get("op_table", {}).items():
                for part, xs in parts.items():
                    op_vals.setdefault(op, {}).setdefault(part, []).append(statistics.median(xs))
        traced, untraced = metric_vals.get("traced_wall_s"), metric_vals.get("wall_s")
        out[wl] = {
            "why": why.get(wl, ""),
            "seeds": {t: sorted(r["seed"] for r in recs if r["trace"] == t) for t in (0, 1)},
            "trace_overhead": (statistics.median(traced) / statistics.median(untraced) - 1
                               if traced and untraced else None),
            "metrics": {k: summary(v) for k, v in sorted(metric_vals.items())},
            "ops": {op: {part: summary(v) for part, v in sorted(parts.items())}
                    for op, parts in sorted(op_vals.items())},
        }
    json.dump(out, sys.stdout, indent=1, sort_keys=True)
    print()


if __name__ == "__main__":
    main(sys.argv[1:])
