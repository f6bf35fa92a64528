#!/usr/bin/env python3
"""Print the per-operation ledger of one run record.

    python3 perfbench/ledger.py RECORD.json [--top N]

For each operation of the run's passes: layer, construct and execute time,
eager construction jobs, total jobs and single-task stages (job counts are
filled on traced runs only). Then, per pass, the sum of the operations'
construct + execute time against the pass's wall_s.
"""
import argparse
import json
from collections import defaultdict


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("record")
    ap.add_argument("--top", type=int, default=0,
                    help="only the N slowest operations")
    a = ap.parse_args()
    with open(a.record) as f:
        r = json.load(f)
    ops = r["ops"]
    print(f"{r['workload']} seed {r['seed']} trace {r['trace']} "
          f"cores {r['cores']}: {len(ops)} operations, "
          f"{r['failed']} failed of {r['attempted']} attempted")
    rows = sorted(ops, key=lambda o: -(o["construct_s"] + o["exec_s"]))
    if a.top:
        rows = rows[:a.top]
    print(f"{'pass':>4} {'operation':34} {'layer':10} {'construct_s':>11} "
          f"{'exec_s':>8} {'c_jobs':>6} {'jobs':>5} {'1-task':>6}")
    for o in rows:
        print(f"{o['pass']:>4} {o['name']:34} {o['layer']:10} "
              f"{o['construct_s']:>11.3f} {o['exec_s']:>8.3f} "
              f"{o['jobs_construct']:>6} {o['jobs']:>5} "
              f"{o['single_task_stages']:>6}")
    per_pass = defaultdict(float)
    for o in ops:
        per_pass[o["pass"]] += o["construct_s"] + o["exec_s"]
    for p in r["passes"]:
        s = per_pass[p["pass"]]
        print(f"pass {p['pass']} ({'traced' if p['traced'] else 'untraced'}):"
              f" ops {s:.3f} s, wall_s {p['wall_s']:.3f} s, "
              f"gap {(p['wall_s'] - s) / p['wall_s']:+.2%}")


if __name__ == "__main__":
    main()
