#!/usr/bin/env python3
"""Summarise one result set, or compare two, against BENCHMARK.json.

Usage (from the root of a checkout):

    python3 perfbench/compare.py A.jsonl            # spreads of one set
    python3 perfbench/compare.py A.jsonl B.jsonl    # B (change) vs A (parent)

Result sets are the JSON-lines files sweep.py writes. For each workload
and metric it prints the median and quartiles of each set (quartiles as
statistics.quantiles(n=4) gives them) and the spread: the distance
between the quartiles as a share of the median.

With two sets the verdict per end-to-end metric is:
  - "unresolved" when either set's spread exceeds the metric's bound,
    unless every run of B reads better than every run of A;
  - "regression" when B's median is worse than A's by more than the bound;
  - "better" when B's median is better by more than A's spread;
  - "within bound" otherwise.
Traced runs (trace=1) add the tracing overhead on commit latency: the
traced run's commit p50 minus the untraced one, per workload.
"""
import json
import os
import statistics
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    """{(workload, trace): {metric: [values]}} plus failed-run counts."""
    sets = defaultdict(lambda: defaultdict(list))
    bad = defaultdict(int)
    with open(path) as fh:
        for line in fh:
            r = json.loads(line)
            res = r.get("result")
            key = (r["workload"], r["trace"])
            if r["exit"] != 0 or not res or not res.get("correct"):
                bad[key] += 1
                continue
            for m, v in res["metrics"].items():
                sets[key][m].append(v["value"])
            sets[key]["_failed_op_ratio"].append(res["failed"] / res["attempted"])
    return sets, bad


def summary(vals):
    med = statistics.median(vals)
    if len(vals) >= 2:
        q1, _, q3 = statistics.quantiles(vals, n=4)
    else:
        q1 = q3 = vals[0]
    spread = (q3 - q1) / abs(med) if med else float("inf")
    return med, q1, q3, spread


def worse_by(a, b, better):
    """How much worse b is than a, as a share of a (negative = better)."""
    return (b - a) / abs(a) if better == "lower" else (a - b) / abs(a)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    paths = sys.argv[1:]
    if not 1 <= len(paths) <= 2:
        sys.exit(__doc__)
    sets = [load(p) for p in paths]
    keys = sorted(set().union(*(s[0].keys() for s in sets)))
    for (w, trace) in keys:
        print(f"\n== {w} (trace={trace}) ==")
        for i, (s, bad) in enumerate(sets):
            n = len(next(iter(s[(w, trace)].values()), []))
            print(f"  set {'AB'[i]}: {n} good runs, {bad[(w, trace)]} failed or incorrect")
        names = sorted(set().union(*(s[0][(w, trace)].keys() for s in sets)))
        for m in names:
            cols = []
            stats = []
            for s, _ in sets:
                vals = s[(w, trace)].get(m, [])
                if not vals:
                    cols.append(f"{'-':>40}")
                    stats.append(None)
                    continue
                med, q1, q3, spread = summary(vals)
                stats.append((med, q1, q3, spread, vals))
                shown = f"{spread:6.1%}" if med else "   n/a"
                cols.append(f"{med:>12.4g} [{q1:.4g}, {q3:.4g}] {shown}")
            verdict = ""
            spec = e2e.get(m)
            if spec and trace == 0:
                bound = spec["bound"]
                if len(stats) == 1 and stats[0]:
                    verdict = ("steady" if stats[0][3] <= bound / 3 else
                               "within bound" if stats[0][3] <= bound else
                               "TOO NOISY") + f" (bound {bound:.0%})"
                elif len(stats) == 2 and all(stats):
                    (ma, _, _, sa, va), (mb, _, _, sb, vb) = stats
                    d = worse_by(ma, mb, spec["better"])
                    all_better = all(worse_by(x, y, spec["better"]) < 0
                                     for x in va for y in vb)
                    if max(sa, sb) > bound and not all_better:
                        verdict = "unresolved"
                    elif d > bound:
                        verdict = "REGRESSION"
                    elif -d > sa:
                        verdict = "better"
                    else:
                        verdict = "within bound"
                    verdict += f" ({d:+.1%} vs bound {bound:.0%})"
            print(f"  {m:<28}" + " | ".join(cols) + f"  {verdict}")
    # tracing overhead: traced commit p50 minus untraced, per set
    for i, (s, _) in enumerate(sets):
        for w in sorted({k[0] for k in s}):
            t = s.get((w, 1), {}).get("trace.commit_p50_s")
            u = s.get((w, 0), {}).get("commit_p50_s")
            if t and u:
                d = statistics.median(t) - statistics.median(u)
                print(f"\ntracing overhead, set {'AB'[i]}, {w}: commit p50 "
                      f"{d:+.3f} s ({d / statistics.median(u):+.1%})")


if __name__ == "__main__":
    main()
