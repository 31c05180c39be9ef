#!/usr/bin/env python3
"""Compare two sets of benchmark runs, metric by metric and workload by
workload.

    python3 perfbench/perf_diff.py <parent_runs_dir> <change_runs_dir>

Each directory holds run records as run.py writes them
(perfbench/target/records/*.json, one per run). For every workload and
metric it prints both sides' medians and quartiles, the share of
same-seed pairs the change wins, and a verdict against the bound
BENCHMARK.json fixes for end-to-end metrics:

- regressed: the change's median is worse than the parent's by more
  than the bound;
- improved: the change wins at least nine tenths of the pairs (ties
  count for neither) and the medians differ by more than the parent's
  own quartile distance;
- unresolved: the parent's runs spread wider than the bound, unless
  every change run beats every parent run;
- unchanged: otherwise.

Per-layer metrics have no bound; they are listed with medians only.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402


def load(directory):
    """(workload, metric) -> {seed: value}, and metric -> unit."""
    runs, units = {}, {}
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as fh:
            rec = json.load(fh)
        for name, m in rec["result"]["metrics"].items():
            runs.setdefault((rec["workload"], name), {})[rec["seed"]] = m["value"]
            units[name] = m["unit"]
    return runs, units


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(parent, change, better, bound):
    """The section-8 rule for one metric on one workload. `parent` and
    `change` map seed -> value; pairs are the seeds both sides ran."""
    sign = 1 if better == "higher" else -1
    p, c = list(parent.values()), list(change.values())
    p1, pm, p3 = quartiles(p)
    _, cm, _ = quartiles(c)
    pairs = [(parent[s], change[s]) for s in parent if s in change]
    wins = sum(1 for a, b in pairs if sign * (b - a) > 0)
    win_share = wins / len(pairs) if pairs else 0.0
    if bound is None:
        return "-", win_share
    all_better = all(sign * (b - a) > 0 for a in p for b in c)
    worse_by = sign * (pm - cm) / abs(pm) if pm else 0.0
    if metrics.spread(p) > bound and not all_better:
        return "unresolved", win_share
    if worse_by > bound:
        return "regressed", win_share
    if win_share >= 0.9 and abs(cm - pm) > (p3 - p1):
        return "improved", win_share
    return "unchanged", win_share


def main(argv):
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    parent, units = load(argv[0])
    change, _ = load(argv[1])
    worst = 0
    print(f"{'workload':<18} {'metric':<30} {'parent q1/med/q3':>30} "
          f"{'change q1/med/q3':>30} {'wins':>5}  verdict")
    for key in sorted(set(parent) & set(change)):
        workload, name = key
        m = spec.get(name, {})
        v, share = verdict(parent[key], change[key], m.get("better", "lower"), m.get("bound"))
        if v == "regressed":
            worst = 1
        fmt = lambda xs: "/".join(f"{x:.4g}" for x in quartiles(sorted(xs.values())))  # noqa: E731
        print(f"{workload:<18} {name:<30} {fmt(parent[key]):>30} {fmt(change[key]):>30} "
              f"{share:>5.0%}  {v} [{units.get(name, '')}]")
    return worst


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
