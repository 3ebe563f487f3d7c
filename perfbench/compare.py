#!/usr/bin/env python3
"""Spread of one result set, or the verdict between two.

Usage:
  python3 perfbench/compare.py spread <dir>
  python3 perfbench/compare.py diff <parent_dir> <change_dir>
  python3 perfbench/compare.py trace <dir>

A result set is a directory of files written by `run.py --record`, any
number of runs per workload. `spread` prints, per workload and
end-to-end metric, the median, quartiles and the quartile distance as a
share of the median, against a third of the metric's bound.

`trace` pairs each workload's traced and untraced record in <dir> and
prints the traced run's per-layer self times and the tracing overhead:
traced minus untraced `iteration_s`.

`diff` applies BENCHMARK.json's bounds per workload and metric and
prints one of:
  improved    the change wins at least 9 of every 10 runs paired in order
              (ties count for neither side), and the medians differ by
              more than the parent's quartile distance, in the better
              direction;
  regressed   the change's median is worse than the parent's by more than
              the bound, with both sides' spreads within the bound;
  unresolved  a side's spread is wider than the bound, unless every run of
              the change reads better than every run of the parent;
  unchanged   otherwise.
"""
import json
import os
import statistics
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def load_spec():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m for m in spec["end_to_end"]}


def records(d):
    """The `run.py --record` files in d, in file-name order."""
    for name in sorted(os.listdir(d)):
        if name.endswith(".json"):
            with open(os.path.join(d, name)) as f:
                rec = json.load(f)
            if "args" in rec:
                yield rec


def load_set(d):
    """workload -> metric -> list of values, in file-name order."""
    out = {}
    for rec in records(d):
        if rec["args"]["trace"]:
            continue
        w = out.setdefault(rec["args"]["workload"], {})
        for metric, (value, _unit) in rec["metrics"].items():
            w.setdefault(metric, []).append(value)
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else float("inf")


def better(m, a, b):
    """True when value b is better than value a for metric m."""
    return b < a if m["better"] == "lower" else b > a


def verdict(m, parent, change):
    bound = m["bound"]
    p_med, c_med = statistics.median(parent), statistics.median(change)
    p1, _, p3 = quartiles(parent)
    pairs = list(zip(parent, change))
    wins = sum(1 for a, b in pairs if better(m, a, b))
    if wins >= 0.9 * len(pairs) and better(m, p_med, c_med) and abs(c_med - p_med) > p3 - p1:
        return "improved"
    all_better = all(better(m, a, b) for a in parent for b in change)
    if max(spread(parent), spread(change)) > bound and not all_better:
        return "unresolved"
    worse_by = (c_med - p_med) / p_med * (1 if m["better"] == "lower" else -1)
    return "regressed" if worse_by > bound else "unchanged"


def trace_summary(d):
    runs = {}
    for rec in records(d):
        runs.setdefault(rec["args"]["workload"], {})[rec["args"]["trace"]] = rec
    out = {}
    for w, r in sorted(runs.items()):
        if set(r) != {0, 1}:
            continue
        traced = r[1]["metrics"]["trace.iteration_s"][0]
        untraced = r[0]["metrics"]["iteration_s"][0]
        out[w] = {
            "seed": r[1]["args"]["seed"],
            "self_s": {k[len("self."):-2]: v for k, (v, _) in r[1]["metrics"].items()
                       if k.startswith("self.") and v},
            "iteration_s_untraced": untraced, "iteration_s_traced": traced,
            "tracing_overhead_s": traced - untraced,
            "tracing_overhead_share": (traced - untraced) / untraced,
        }
    return out


def main():
    spec = load_spec()
    if len(sys.argv) == 3 and sys.argv[1] == "trace":
        print(json.dumps(trace_summary(sys.argv[2]), indent=1))
        return
    if len(sys.argv) == 3 and sys.argv[1] == "spread":
        ok = True
        for w, metrics in sorted(load_set(sys.argv[2]).items()):
            for name, xs in metrics.items():
                q1, q2, q3 = quartiles(xs)
                s = spread(xs)
                limit = spec[name]["bound"] / 3
                flag = "ok" if s <= limit or name == "setup_s" else "WIDE"
                ok &= flag == "ok"
                print(f"{w:16s} {name:12s} n={len(xs):2d} median={q2:.4g} "
                      f"q1={q1:.4g} q3={q3:.4g} spread={s:.3f} (bound/3={limit:.3f}) {flag}")
        sys.exit(0 if ok else 1)
    if len(sys.argv) == 4 and sys.argv[1] == "diff":
        parent, change = load_set(sys.argv[2]), load_set(sys.argv[3])
        for w in sorted(set(parent) & set(change)):
            for name, m in spec.items():
                p, c = parent[w].get(name), change[w].get(name)
                if not p or not c:
                    continue
                print(f"{w:16s} {name:12s} parent={statistics.median(p):.4g} "
                      f"change={statistics.median(c):.4g} {verdict(m, p, c)}")
        return
    sys.exit(__doc__)


if __name__ == "__main__":
    main()
