#!/usr/bin/env python3
"""Pair comparison of two run sets of the graft benchmark.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds the captured stdout of run.py runs (any file names),
one run per file; runs are paired by workload and seed. For every workload
and end-to-end metric it prints each side's median and quartiles, the
fraction of pairs the change wins (ties count for neither side), and a
verdict:

  better      the change wins at least 9/10 of the pairs and the medians
              differ by more than the parent's own quartile spread
  worse       the change's median is worse than the parent's by more than
              the metric's bound
  unresolved  a side's quartile spread, as a share of its median, exceeds
              the bound, and the change's runs do not all beat the parent's
  same        none of the above
"""
import json
import os
import statistics
import sys

BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "BENCHMARK.json")


def load_runs(d):
    """{(workload, seed): metrics} from run.py stdout captures in d."""
    runs = {}
    for name in sorted(os.listdir(d)):
        lines = [l for l in open(os.path.join(d, name)).read().splitlines()
                 if l.startswith("{")]
        if len(lines) < 2:
            continue
        info, res = json.loads(lines[-2]).get("info", {}), json.loads(lines[-1])
        if "workload" in info and "setup_s" in res.get("metrics", {}):
            runs[(info["workload"], info["seed"])] = {
                k: v["value"] for k, v in res["metrics"].items()}
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def verdict(parent, change, lower_better, bound):
    """Verdict for one metric from paired samples (same length, same order)."""
    pm, cm = statistics.median(parent), statistics.median(change)
    better = (lambda c, p: c < p) if lower_better else (lambda c, p: c > p)
    wins = sum(better(c, p) for p, c in zip(parent, change))
    frac = wins / len(parent)
    pq1, pq3 = quartiles(parent)
    cq1, cq3 = quartiles(change)
    spread = max((pq3 - pq1) / abs(pm) if pm else 0.0,
                 (cq3 - cq1) / abs(cm) if cm else 0.0)
    all_better = all(better(c, p) for c in change for p in parent)
    worse_by = ((cm - pm) if lower_better else (pm - cm)) / abs(pm) if pm else 0.0
    if frac >= 0.9 and abs(cm - pm) > (pq3 - pq1):
        v = "better"
    elif spread > bound and not all_better:
        v = "unresolved"
    elif worse_by > bound:
        v = "worse"
    else:
        v = "same"
    return {"parent": (pm, pq1, pq3), "change": (cm, cq1, cq3), "wins": frac,
            "verdict": v}


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    with open(BENCH) as f:
        spec = json.load(f)
    parent, change = load_runs(sys.argv[1]), load_runs(sys.argv[2])
    print(f"{'workload':18} {'metric':18} {'parent median [q1, q3]':34} "
          f"{'change median [q1, q3]':34} {'wins':>5}  verdict")
    for w in [x["name"] for x in spec["workloads"]]:
        seeds = sorted(s for (pw, s) in parent if pw == w and (w, s) in change)
        if not seeds:
            continue
        for m in spec["end_to_end"]:
            p = [parent[(w, s)][m["name"]] for s in seeds]
            c = [change[(w, s)][m["name"]] for s in seeds]
            r = verdict(p, c, m["better"] == "lower", m["bound"])
            fmt = lambda t: f"{t[0]:.4g} [{t[1]:.4g}, {t[2]:.4g}]"
            print(f"{w:18} {m['name']:18} {fmt(r['parent']):34} {fmt(r['change']):34} "
                  f"{r['wins']:5.2f}  {r['verdict']} (n={len(seeds)})")


if __name__ == "__main__":
    main()
