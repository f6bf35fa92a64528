#!/usr/bin/env python3
"""Compare two sets of benchmark runs, workload by workload.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR

Each directory holds run records as run.py writes them (--runs-dir).
Only untraced runs are compared. For every workload and end-to-end metric
of BENCHMARK.json it prints each side's median and quartiles, the share
of seed-matched pairs the change wins (ties count for neither side), and
a verdict:

  better        at least ten pairs, the change wins at least 9 of 10 of
                them and the medians differ by more than the base's
                quartile distance
  worse         the change's median is worse than the base's by more
                than the metric's bound
  unresolved    either side's quartile distance exceeds the bound and
                not every change run beats every base run
  within bound  otherwise

It refuses to compare sets taken at different core counts or on different
input directories.
"""
import glob
import json
import os
import statistics
import sys

HOME = os.path.dirname(os.path.abspath(__file__))


def load(d):
    runs = []
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        if str(r.get("trace")) == "0" and not r.get("sweep"):
            runs.append(r)
    if not runs:
        sys.exit(f"compare: no untraced run records in {d}")
    return runs


def stamp(runs, key):
    vals = {os.path.basename(str(r[key])) for r in runs}
    return vals.pop() if len(vals) == 1 else None


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(qa, qb, lower, bound, pairs, win, all_better):
    a1, am, a3 = qa
    b1, bm, b3 = qb
    sign = 1 if lower else -1
    worse_rel = sign * (bm - am) / am
    improved = sign * (am - bm) > 0
    if pairs >= 10 and win >= 0.9 and improved and abs(bm - am) > a3 - a1:
        return "better"
    if max((a3 - a1) / am, (b3 - b1) / bm) > bound and not all_better:
        return "unresolved"
    if worse_rel > bound:
        return "worse"
    return "within bound"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, change = load(sys.argv[1]), load(sys.argv[2])
    for key in ("cores", "sf_dir"):
        sa, sb = stamp(base, key), stamp(change, key)
        if sa is None or sb is None or sa != sb:
            sys.exit(f"compare: refusing, the sets differ in {key} "
                     f"({sa} vs {sb}; None means mixed within a set)")
    with open(os.path.join(os.path.dirname(HOME), "BENCHMARK.json")) as f:
        bench = json.load(f)
    print(f"cores {stamp(base, 'cores')}, inputs {stamp(base, 'sf_dir')}; "
          f"base {sys.argv[1]}, change {sys.argv[2]}")
    hdr = (f"{'workload':9} {'metric':24} {'n':>5} {'base median [q1, q3]':>30}"
           f" {'change median [q1, q3]':>30} {'delta':>7} {'win':>5}  verdict")
    print(hdr)
    for w in [x["name"] for x in bench["workloads"]]:
        ra = [r for r in base if r["workload"] == w]
        rb = [r for r in change if r["workload"] == w]
        if not ra or not rb:
            print(f"{w:9} (no runs on {'base' if not ra else 'change'} side)")
            continue
        for m in bench["end_to_end"]:
            name, better, bound = m["name"], m["better"], m["bound"]
            a = [r["metrics"][name]["value"] for r in ra]
            b = [r["metrics"][name]["value"] for r in rb]
            sa = {r["seed"]: r["metrics"][name]["value"] for r in ra}
            sb = {r["seed"]: r["metrics"][name]["value"] for r in rb}
            pairs = [(sa[s], sb[s]) for s in sa if s in sb] or list(zip(a, b))
            lower = better == "lower"
            wins = sum(1 for x, y in pairs if (y < x if lower else y > x))
            win = wins / len(pairs)
            all_better = (max(b) < min(a)) if lower else (min(b) > max(a))
            qa, qb = quartiles(a), quartiles(b)
            v = verdict(qa, qb, lower, bound, len(pairs), win, all_better)
            side = [f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]" for q in (qa, qb)]
            print(f"{w:9} {name:24} {len(a):>2}/{len(b):<2} {side[0]:>30}"
                  f" {side[1]:>30} {(qb[1] - qa[1]) / qa[1]:>+7.1%}"
                  f" {win:>5.2f}  {v}")


if __name__ == "__main__":
    main()
