"""Run-agreement tool: compares two sets of runs per workload and metric.

    python3 perfbench/agree.py base.jsonl change.jsonl

Each file holds result lines as written by `repeat.py`. For every
workload and end-to-end metric in BENCHMARK.json it prints both sides'
median and quartiles (`statistics.quantiles(values, n=4)`) and one
verdict, by the benchmark's bound for the metric and its direction:

- improved: the change wins at least nine tenths of the pairs (runs
  paired by seed, else by order; ties count for neither side) and the
  medians differ by more than the base's interquartile range;
- regressed: the change's median is worse than the base's by more than
  the bound;
- unresolved: a side's spread (interquartile range over median) is wider
  than the bound, unless every run of the change reads better than every
  run of the base;
- agree: none of these.

The exit code is 1 when any metric regressed.
"""
import json
import os
import statistics
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_runs(path):
    with open(path) as fh:
        return [json.loads(l) for l in fh if l.strip()]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else float("inf")


def by_metric(rows):
    out = defaultdict(lambda: defaultdict(list))
    for r in rows:
        for k, v in r["metrics"].items():
            out[r["workload"]][k].append((r.get("seed"), v["value"]))
    return out


def spread_table(rows):
    lines = [f"{'workload':15s} {'metric':18s} {'n':>3s} {'median':>11s} {'q1':>11s} "
             f"{'q3':>11s} {'spread':>7s}"]
    for w, metrics in sorted(by_metric(rows).items()):
        for k, vals in metrics.items():
            xs = [v for _, v in vals]
            q1, q2, q3 = quartiles(xs)
            lines.append(f"{w:15s} {k:18s} {len(xs):3d} {q2:11.4f} {q1:11.4f} "
                         f"{q3:11.4f} {spread(xs):7.3f}")
    return "\n".join(lines)


def verdict(base, change, bound, lower_better):
    b = [v for _, v in base]
    c = [v for _, v in change]
    sign = 1.0 if lower_better else -1.0
    mb, mc = statistics.median(b), statistics.median(c)
    q1, _, q3 = quartiles(b)
    seeds_b = dict(base)
    if None not in seeds_b and all(s in seeds_b for s, _ in change):
        pairs = [(seeds_b[s], v) for s, v in change]
    else:
        pairs = list(zip(b, c))
    wins = sum(1 for x, y in pairs if sign * (y - x) < 0)
    all_better = max(sign * y for y in c) < min(sign * x for x in b)
    if pairs and wins >= 0.9 * len(pairs) and abs(mc - mb) > (q3 - q1):
        return "improved"
    if sign * (mc - mb) > bound * abs(mb):
        return "regressed"
    if (spread(b) > bound or spread(c) > bound) and not all_better:
        return "unresolved"
    return "agree"


def main(base_path, change_path):
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    spec = {m["name"]: m for m in bench["end_to_end"]}
    base, change = by_metric(load_runs(base_path)), by_metric(load_runs(change_path))
    regressed = False
    print(f"{'workload':15s} {'metric':18s} {'base median [q1, q3]':>34s} "
          f"{'change median [q1, q3]':>34s}  verdict")
    for w in sorted(set(base) & set(change)):
        for k, m in spec.items():
            if k not in base[w] or k not in change[w]:
                continue
            v = verdict(base[w][k], change[w][k], m["bound"], m["better"] == "lower")
            regressed |= v == "regressed"
            cols = []
            for side in (base[w][k], change[w][k]):
                q1, q2, q3 = quartiles([x for _, x in side])
                cols.append(f"{q2:.4g} [{q1:.4g}, {q3:.4g}] n={len(side)}")
            print(f"{w:15s} {k:18s} {cols[0]:>34s} {cols[1]:>34s}  {v}")
    return 1 if regressed else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
