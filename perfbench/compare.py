#!/usr/bin/env python3
"""Compare two sets of benchmark runs, or summarize one.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR
    python3 perfbench/compare.py RUNS_DIR

Each directory holds result files written by perfbench/run.py (it keeps
them in .bench_build/results/). Per workload and end-to-end metric it prints
each side's median and quartiles and the share of pairs the change won
(pairs matched by seed, ties counting for neither). From traced runs it
prints per-layer deltas of the medians, the tracing overhead (traced minus
untraced op_p50_s) and the host calibration ratio. Given one directory it
prints each metric's median, quartiles and spread (interquartile distance
over the median) against the metric's bound.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def load(d):
    runs = []
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(p) as f:
            runs.append(json.load(f))
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def by_metric(runs, workload, trace):
    out = {}
    for r in runs:
        rec = r["record"]
        if rec["workload"] != workload or rec["trace"] != trace:
            continue
        for k, m in r["result"]["metrics"].items():
            out.setdefault(k, {})[rec["seed"]] = m["value"]
    return out


def directions():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: (m["better"], m.get("bound")) for m in spec["end_to_end"]}


def won_share(a, b, better):
    seeds = sorted(set(a) & set(b))
    if not seeds:
        return None
    wins = sum(1 for s in seeds if (b[s] < a[s] if better == "lower" else b[s] > a[s]))
    return wins / len(seeds)


def layer_phrase(name, delta):
    unit = name.rsplit("_", 1)[-1] if "_" in name else ""
    if unit == "s":
        return f"{name} {delta:+.3f} s"
    if unit == "mb":
        return f"{name} {delta:+.1f} MB"
    return f"{name} {delta:+.2f}"


def summarize(runs):
    dirs = directions()
    for w in sorted({r["record"]["workload"] for r in runs}):
        print(f"== {w}")
        for name, per_seed in sorted(by_metric(runs, w, 0).items()):
            vals = list(per_seed.values())
            q1, med, q3 = quartiles(vals)
            bound = dirs.get(name, (None, None))[1]
            line = f"  {name:<14} med {med:.4g} [{q1:.4g}, {q3:.4g}] n={len(vals)}"
            if len(vals) > 1 and med:
                line += f"  spread {stats.spread(vals):.3f}"
                if bound is not None:
                    line += f" (bound {bound}, a third {bound / 3:.3f})"
            print(line)
        traced = by_metric(runs, w, 1).get("trace.op_p50_s")
        untraced = by_metric(runs, w, 0).get("op_p50_s")
        if traced and untraced:
            over = statistics.median(traced.values()) - statistics.median(untraced.values())
            print(f"  tracing overhead: {over:+.4f} s on op_p50_s")
        cal = [r["record"]["x_calibrate_s"] for r in runs if r["record"]["workload"] == w]
        print(f"  x_calibrate med {statistics.median(cal):.3f} s over {len(cal)} runs")


def main():
    if len(sys.argv) == 2:
        summarize(load(sys.argv[1]))
        return
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    base, change = load(sys.argv[1]), load(sys.argv[2])
    dirs = directions()
    workloads = sorted({r["record"]["workload"] for r in base + change})
    for w in workloads:
        print(f"== {w}")
        a, b = by_metric(base, w, 0), by_metric(change, w, 0)
        for name in sorted(set(a) | set(b)):
            better, bound = dirs.get(name, ("lower", None))
            line = f"  {name:<14}"
            for side in (a, b):
                vals = list(side.get(name, {}).values())
                if vals:
                    q1, med, q3 = quartiles(vals)
                    line += f"  med {med:.4g} [{q1:.4g}, {q3:.4g}] n={len(vals)}"
                else:
                    line += "  (none)"
            share = won_share(a.get(name, {}), b.get(name, {}), better)
            if share is not None:
                line += f"  change won {share:.0%} of pairs"
            if bound is not None and a.get(name) and b.get(name):
                ma, mb = statistics.median(a[name].values()), statistics.median(b[name].values())
                ratio = mb / ma if ma else float("inf")
                worse = ratio - 1 if better == "lower" else 1 - ratio
                line += f"  ({ratio:.3f}x; bound {bound:.0%}{', WORSE' if worse > bound else ''})"
            print(line)
        ta, tb = by_metric(base, w, 1), by_metric(change, w, 1)
        deltas = []
        for name in sorted(set(ta) & set(tb)):
            da = statistics.median(ta[name].values())
            db = statistics.median(tb[name].values())
            if da != db:
                deltas.append((abs(db - da) / (abs(da) + 1e-9), name, db - da))
        if deltas:
            deltas.sort(reverse=True)
            print("  layers (change - base, traced medians): " +
                  ", ".join(layer_phrase(n, d) for _, n, d in deltas[:8]))
        for label, t, u in (("base", ta, a), ("change", tb, b)):
            if t.get("trace.op_p50_s") and u.get("op_p50_s"):
                over = statistics.median(t["trace.op_p50_s"].values()) - statistics.median(u["op_p50_s"].values())
                print(f"  tracing overhead ({label}): {over:+.4f} s on op_p50_s")
        cal = []
        for runs in (base, change):
            xs = [r["record"]["x_calibrate_s"] for r in runs if r["record"]["workload"] == w]
            cal.append(statistics.median(xs) if xs else None)
        if all(cal):
            print(f"  x_calibrate: base {cal[0]:.3f} s, change {cal[1]:.3f} s, "
                  f"ratio {cal[1] / cal[0]:.3f}")


if __name__ == "__main__":
    main()
