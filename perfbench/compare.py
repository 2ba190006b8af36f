#!/usr/bin/env python3
"""Compare two sets of benchmark runs (parent and change).

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds one file per run: the captured standard output of
``perfbench/run.py`` (its ``# <workload> seed=<n> ...`` header line and
its final JSON line are what is read). Runs with --trace 0 give the
end-to-end comparison; runs with --trace 1 give the exact-counter
deltas.

Per workload and end-to-end metric it prints each side's median and
quartiles, the share of pairs the change won (runs paired by seed, in
order; ties count for neither side) and one verdict:

  improved     the change won at least 90% of the pairs and the medians
               differ by more than the parent's quartile distance
  no worse     the change's median is within the metric's bound of the
               parent's
  unresolved   the parent's spread is wider than the bound (unless every
               change run beats every parent run)
  worse        none of the above: a regression beyond the bound
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import metrics  # noqa: E402


def load(directory):
    """{(workload, trace): [(seed, metrics), ...]} from captured outputs."""
    runs = {}
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name)) as f:
            lines = [line.strip() for line in f if line.strip()]
        head = next((line for line in lines if line.startswith("# ")), None)
        if head is None or not lines[-1].startswith("{"):
            continue
        workload = head.split()[1]
        seed = int(head.split("seed=")[1].split()[0])
        out = json.loads(lines[-1])
        trace = any(k in layers.UNITS for k in out["metrics"])
        runs.setdefault((workload, trace), []).append(
            (seed, {k: v["value"] for k, v in out["metrics"].items()}))
    return runs


def quartiles(values):
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def pairs(parent, change):
    """Pair runs by seed, in order of appearance."""
    pool = {}
    for seed, v in parent:
        pool.setdefault(seed, []).append(v)
    out = []
    for seed, v in change:
        if pool.get(seed):
            out.append((pool[seed].pop(0), v))
    return out


def verdict(metric, p_vals, c_vals, won, n_pairs):
    lower = metric["better"] == "lower"
    sign = 1 if lower else -1
    p1, pm, p3 = quartiles(p_vals)
    _, cm, _ = quartiles(c_vals)
    spread = metrics.spread(p_vals) if len(p_vals) > 1 else 0.0
    all_better = (max(c_vals) < min(p_vals)) if lower else (min(c_vals) > max(p_vals))
    if n_pairs and won / n_pairs >= 0.9 and abs(cm - pm) > (p3 - p1) and sign * (pm - cm) > 0:
        return "improved"
    if spread > metric["bound"] and not all_better:
        return "unresolved"
    if sign * (cm - pm) <= metric["bound"] * pm:
        return "no worse"
    return "worse"


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    parent, change = load(argv[0]), load(argv[1])
    for w in spec["workloads"]:
        name = w["name"]
        p_runs, c_runs = parent.get((name, False), []), change.get((name, False), [])
        print(f"== {name}: {len(p_runs)} parent runs, {len(c_runs)} change runs")
        if p_runs and c_runs:
            print(f"  {'metric':14s} {'parent q1/med/q3':>32s} {'change q1/med/q3':>32s} "
                  f"{'won':>7s}  verdict")
            for m in spec["end_to_end"]:
                k = m["name"]
                pv = [v[k] for _, v in p_runs if k in v]
                cv = [v[k] for _, v in c_runs if k in v]
                if not pv or not cv:
                    continue
                pr = [(a[k], b[k]) for a, b in pairs(p_runs, c_runs) if k in a and k in b]
                won = sum(1 for a, b in pr if (b < a if m["better"] == "lower" else b > a))
                fmt = "{:.4g}/{:.4g}/{:.4g}"
                print(f"  {k:14s} {fmt.format(*quartiles(pv)):>32s} {fmt.format(*quartiles(cv)):>32s} "
                      f"{won:>3d}/{len(pr):<3d}  {verdict(m, pv, cv, won, len(pr))}")
        pt, ct = parent.get((name, True), []), change.get((name, True), [])
        if pt and ct:
            print("  exact counters (first traced run of each side):")
            for k in sorted(layers.EXACT):
                a, b = pt[0][1].get(k), ct[0][1].get(k)
                if a is not None and b is not None and (a or b):
                    print(f"    {k:44s} {a:14.0f} -> {b:14.0f}  ({b - a:+.0f})")


if __name__ == "__main__":
    main(sys.argv[1:])
