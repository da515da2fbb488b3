"""Compare two sets of benchmark runs.

  python3 perfbench/compare.py A B

A and B are directories (or lists of files, comma-separated) of the run
records run.py writes to .bench_build/results/. Per workload and metric it
prints each side's median and quartiles, the spread (quartile distance
over the median), the bound from BENCHMARK.json, and a verdict:

  unresolved  a side's spread exceeds the bound, so the sides cannot be told
              apart, unless every run of B beats every run of A
  better / worse / same
              B's median against A's, with `worse` meaning worse by more
              than the bound

Metrics without a bound (the per-workload detail and per-layer numbers)
are shown with their medians and spreads only. Exits 1 if any bounded
metric is worse or unresolved.
"""

import glob
import json
import os
import statistics
import sys


def load(spec):
    files = []
    for part in spec.split(","):
        files += sorted(glob.glob(os.path.join(part, "*.json"))) \
            if os.path.isdir(part) else [part]
    runs = []
    for f in files:
        with open(f) as fh:
            runs.append(json.load(fh))
    return runs


def values(runs):
    """(workload, metric) -> list of values, one per run."""
    out = {}
    for r in runs:
        flat = {k: v["value"] for k, v in r["metrics"].items()}
        flat.update({k: v for k, v in r.get("detail", {}).items()
                     if isinstance(v, (int, float)) and not isinstance(v, bool)})
        for k, v in flat.items():
            out.setdefault((r["workload"], k), []).append(v)
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def spread(xs):
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / abs(med) if med else 0.0


def verdict(a, b, bound, better):
    sign = 1 if better == "higher" else -1
    if max(spread(a), spread(b)) > bound:
        beats = min(b) > max(a) if better == "higher" else max(b) < min(a)
        return "better" if beats else "unresolved"
    change = sign * (statistics.median(b) - statistics.median(a)) \
        / abs(statistics.median(a))
    if change < -bound:
        return "worse"
    return "better" if change > bound else "same"


def main(argv):
    if len(argv) != 3:
        sys.stderr.write(__doc__)
        return 2
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                           "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: (m["bound"], m["better"]) for m in bench["end_to_end"]}
    a, b = values(load(argv[1])), values(load(argv[2]))
    bad = 0
    fmt = "%-15s %-34s %-30s %-30s %6s %6s %6s  %s"
    print(fmt % ("workload", "metric", "A q1 / median / q3",
                 "B q1 / median / q3", "A sprd", "B sprd", "bound", "verdict"))
    for key in sorted(set(a) & set(b)):
        wl, name = key
        bound, better = bounds.get(name, (None, None))
        v = verdict(a[key], b[key], bound, better) if bound else "-"
        bad += v in ("worse", "unresolved")
        print(fmt % (wl, name,
                     " / ".join("%.4g" % x for x in quartiles(a[key])),
                     " / ".join("%.4g" % x for x in quartiles(b[key])),
                     "%.3f" % spread(a[key]), "%.3f" % spread(b[key]),
                     "%.2f" % bound if bound else "-", v))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
