#!/usr/bin/env python3
"""Compare two result files written by run.py.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl

For every workload and every metric of the untraced records, prints each
side's median and quartiles (statistics.quantiles, n=4), the ratio of the
medians (new / base) and a verdict against the metric's bound:

  better      every new run beats every base run, or the spreads are within
              the bound and the medians differ, the right way, by more than
              the base's own spread
  unresolved  otherwise, when either side's spread exceeds the bound
  worse       the new median is worse than the base median by more than the bound
  same        otherwise

A side's spread is its interquartile range over its median.

A base median of 0 (failed_ratio, normally) makes any other new median
better or worse outright.

Bounds and directions come from BENCHMARK.json. A metric it does not list
(a workload's own name for one, such as flagship_s or spine_rows_per_s)
is compared with DEFAULT_BOUND, the bound of the declared end-to-end
metrics: their ten-seed spreads on a shared 4-core host are well above
0.1, and the workload's own metrics are sums and medians of the same
timings, so a tighter bound would leave most comparisons unresolved. A
name ending in _per_s is better higher, any other better lower.

Records made with --tables (queries on tables that were not generated)
are left out.
"""
import json
import os
import statistics
import sys

DEFAULT_BOUND = 0.25
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    runs = {}
    with open(path) as fh:
        for line in fh:
            if line.strip():
                r = json.loads(line)
                if not r.get("trace") and not r.get("tables"):
                    runs.setdefault(r["workload"], []).append(r)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(base, new, bound, higher):
    b1, bm, b3 = quartiles(base)
    n1, nm, n3 = quartiles(new)
    if bm == 0:
        if nm == 0:
            return "same"
        return "better" if (nm > 0) == higher else "worse"
    gain = (nm - bm) / bm if higher else (bm - nm) / bm
    all_better = min(new) > max(base) if higher else max(new) < min(base)
    base_spread = (b3 - b1) / bm if bm else float("inf")
    spread = max(base_spread, (n3 - n1) / nm if nm else float("inf"))
    if all_better:
        return "better"
    if spread > bound:
        return "unresolved"
    if gain < -bound:
        return "worse"
    if gain > base_spread:
        return "better"
    return "same"


def main():
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = {m["name"]: m for m in json.load(fh)["end_to_end"]}
    base, new = load(sys.argv[1]), load(sys.argv[2])
    print(f"{'workload':<12} {'metric':<20} {'base median [q1, q3]':<34} "
          f"{'new median [q1, q3]':<34} {'ratio':>7}  verdict")
    for w in sorted(set(base) & set(new)):
        names = sorted(set().union(*(r["metrics"] for r in base[w]))
                       & set().union(*(r["metrics"] for r in new[w])))
        for name in names:
            b = [r["metrics"][name] for r in base[w] if name in r["metrics"]]
            n = [r["metrics"][name] for r in new[w] if name in r["metrics"]]
            m = declared.get(name)
            bound = m["bound"] if m else DEFAULT_BOUND
            higher = m["better"] == "higher" if m else name.endswith("_per_s")
            b1, bm, b3 = quartiles(b)
            n1, nm, n3 = quartiles(n)
            ratio = nm / bm if bm else float("nan")
            v = verdict(b, n, bound, higher)
            print(f"{w:<12} {name:<20} {bm:>11.4g} [{b1:.4g}, {b3:.4g}]{'':<6} "
                  f"{nm:>11.4g} [{n1:.4g}, {n3:.4g}]{'':<6} {ratio:>7.3f}  {v}"
                  f"  (n={len(b)}/{len(n)}, bound {bound})")
    for w in sorted(set(base) ^ set(new)):
        print(f"{w:<12} only in {'base' if w in base else 'new'}")


if __name__ == "__main__":
    main()
