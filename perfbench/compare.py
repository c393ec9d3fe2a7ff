"""Compare two sets of benchmark runs, parent and change.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds results saved by ``run.py --save DIR``, one file per run
named ``<workload>__<seed>__t<trace>.json``. Runs of the same workload are
paired in seed order (run the sides alternately, on the same seeds).

One row per workload and metric: each side's median and quartiles, the
share of pairs the change won (ties count for neither), and a verdict
against the metric's bound in BENCHMARK.json:

  unresolved  the parent's quartile spread, as a share of its median, is
              wider than the bound, and not every change run beats every
              parent run (or loses to every one)
  worse       the change's median is worse than the parent's by more than
              the bound
  better      the change won at least 9 in 10 pairs and the medians differ
              by more than the parent's quartile spread
  same        none of these

Per-layer metrics have no bound; their rows carry medians and pairs won
only, with the verdict "layer".
"""
import collections
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    runs = collections.defaultdict(list)
    for name in sorted(os.listdir(d)):
        if not name.endswith(".json"):
            continue
        workload, seed, _ = name[:-5].split("__")
        with open(os.path.join(d, name)) as f:
            runs[workload].append((int(seed), json.load(f)))
    return {w: [r for _, r in sorted(rs, key=lambda x: x[0])] for w, rs in runs.items()}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(spec, parent, change):
    lower = spec["better"] == "lower"
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    pairs = list(zip(parent, change))
    won = sum((c < p) if lower else (c > p) for p, c in pairs)
    share = won / len(pairs) if pairs else 0.0
    if "bound" not in spec:
        return share, "layer"
    bound = spec["bound"]
    spread = (p3 - p1) / pm if pm else float("inf")
    worse = (cm - pm) / pm if lower else (pm - cm) / pm
    all_better = (max(change) < min(parent)) if lower else (min(change) > max(parent))
    all_worse = (min(change) > max(parent)) if lower else (max(change) < min(parent))
    if spread > bound and not (all_better or all_worse):
        return share, "unresolved"
    if worse > bound or (spread > bound and all_worse):
        return share, "worse"
    if share >= 0.9 and abs(cm - pm) > (p3 - p1):
        return share, "better"
    return share, "same"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    specs = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    print(f"{'workload':14} {'metric':40} {'parent q1/med/q3':>32} "
          f"{'change q1/med/q3':>32} {'won':>5} verdict")
    for w in sorted(set(parent) & set(change)):
        names = sorted(set.intersection(
            *[set(r["metrics"]) for r in parent[w] + change[w]]))
        for name in names:
            if name not in specs:
                continue
            p = [r["metrics"][name]["value"] for r in parent[w]]
            c = [r["metrics"][name]["value"] for r in change[w]]
            share, v = verdict(specs[name], p, c)
            fmt = lambda xs: "/".join(f"{x:.4g}" for x in quartiles(xs))
            print(f"{w:14} {name:40} {fmt(p):>32} {fmt(c):>32} {share:5.2f} {v}")
        for side, runs in (("parent", parent[w]), ("change", change[w])):
            bad = sum(1 for r in runs if not r["correct"])
            if bad:
                print(f"{w:14} {side} has {bad} incorrect run(s)")


if __name__ == "__main__":
    main()
