#!/usr/bin/env python3
"""Layer-diff report of two sets of benchmark runs.

    python3 perfbench/diff.py BEFORE.jsonl AFTER.jsonl

Each file holds the full records that `perfbench/run.py --out FILE` appends,
one run per line, for any mix of workloads and seeds. For every workload in
both files, prints each end-to-end metric (from untraced runs) and each
per-layer metric (from traced runs) side by side: the median of each side,
the change of the medians, and each side's spread (quartile distance over
median), so a change is read against the run-to-run noise of both commits.
Sides without traced runs show the per-layer metrics untraced runs report.
"""
import json
import statistics
import sys
from collections import defaultdict


def load(path):
    runs = defaultdict(list)
    with open(path) as fh:
        for line in fh:
            if line.strip():
                r = json.loads(line)
                runs[(r["workload"], r["trace"])].append(r)
    return runs


def summary(values):
    if not values:
        return None, None
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / abs(med)


def fmt(v):
    return "-" if v is None else f"{v:.4g}"


def pct(v):
    return "-" if v is None else f"{100 * v:+.1f}%"


def section(title, key, before, after):
    names = []
    for r in before + after:
        names += [n for n in r[key] if n not in names]
    if not names:
        return
    print(f"  {title}  (runs: {len(before)} before, {len(after)} after)")
    print(f"    {'metric':44} {'before':>11} {'after':>11} {'change':>8} {'spread b/a':>15}")
    for n in names:
        b, sb = summary([r[key][n] for r in before if n in r[key]])
        a, sa = summary([r[key][n] for r in after if n in r[key]])
        change = None if b in (None, 0) or a is None else (a - b) / abs(b)
        print(f"    {n:44} {fmt(b):>11} {fmt(a):>11} {pct(change):>8} "
              f"{pct(sb).lstrip('+'):>7}/{pct(sa).lstrip('+'):>7}")


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    before, after = load(sys.argv[1]), load(sys.argv[2])
    for w in sorted({w for w, _ in before} & {w for w, _ in after}):
        print(f"{w}")
        section("end to end", "end_to_end", before.get((w, 0), []), after.get((w, 0), []))
        # per-layer numbers come from traced runs; without any, from the
        # few layers an untraced run also reports
        section("per layer", "per_layer", before.get((w, 1)) or before.get((w, 0), []),
                after.get((w, 1)) or after.get((w, 0), []))
        for side, runs in (("before", before), ("after", after)):
            bad = [r for t in (0, 1) for r in runs.get((w, t), []) if not r["correct"]]
            if bad:
                print(f"  {len(bad)} {side} run(s) failed their output checks")


if __name__ == "__main__":
    main()
