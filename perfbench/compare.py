#!/usr/bin/env python3
"""Compare two sets of benchmark runs: a parent commit and a change.

    python3 perfbench/compare.py <parent_dir> <change_dir> [--benchmark BENCHMARK.json]

Each directory holds one `<workload>.jsonl` per workload: the last stdout
line of each run, in the order the runs were made. Runs pair up by position,
so make them alternately (parent, change, parent, ...).

For every metric and workload the report gives each side's median and
quartiles, the share of pairs the change won (ties count for neither) and a
verdict:

  gain          the change won at least 9/10 of the pairs and the medians
                differ by more than the parent's own quartile spread;
  regression    the change's median is worse than the parent's by more
                than the metric's bound;
  unresolved    the parent's quartile spread is wider than the bound, and
                not every change run beats every parent run;
  within bound  none of the above.

Per-layer metrics carry no bound, so they read only gain or "-". A gain is
void when the change failed more operations than the parent.
"""
import argparse
import json
import os
import statistics
import sys


def load(d, workload):
    p = os.path.join(d, f"{workload}.jsonl")
    if not os.path.exists(p):
        return []
    with open(p) as f:
        return [json.loads(ln) for ln in f if ln.strip()]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(par, chg, better, bound, chg_failed, par_failed):
    sign = 1 if better == "higher" else -1
    pairs = list(zip(par, chg))
    won = sum(1 for p, c in pairs if sign * (c - p) > 0)
    share = won / len(pairs) if pairs else 0.0
    pq1, pmed, pq3 = quartiles(par)
    _, cmed, _ = quartiles(chg)
    if (share >= 0.9 and abs(cmed - pmed) > pq3 - pq1 and chg_failed <= par_failed):
        return share, "gain"
    if bound is None:
        return share, "-"
    worse = -sign * (cmed - pmed) / abs(pmed) if pmed else 0.0
    if worse > bound:
        return share, "regression"
    all_better = all(sign * (c - p) > 0 for c in chg for p in par)
    if pmed and (pq3 - pq1) / abs(pmed) > bound and not all_better:
        return share, "unresolved"
    return share, "within bound"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default=os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCHMARK.json"))
    a = ap.parse_args()
    bench = json.load(open(a.benchmark))
    metrics = [(m, m.get("bound")) for m in bench["end_to_end"] + bench["per_layer"]]
    bad = 0
    print(f"{'workload':10} {'metric':32} {'parent q1/med/q3':>30} {'change q1/med/q3':>30} "
          f"{'won':>5}  verdict")
    for w in [x["name"] for x in bench["workloads"]]:
        par, chg = load(a.parent, w), load(a.change, w)
        if not par or not chg:
            print(f"{w:10} (no runs on one side)")
            continue
        pf = sum(r["failed"] for r in par)
        cf = sum(r["failed"] for r in chg)
        for m, bound in metrics:
            pv = [r["metrics"][m["name"]]["value"] for r in par if m["name"] in r["metrics"]]
            cv = [r["metrics"][m["name"]]["value"] for r in chg if m["name"] in r["metrics"]]
            if not pv or not cv:
                continue
            share, v = verdict(pv, cv, m["better"], bound, cf, pf)
            bad += v == "regression"
            fmt = lambda xs: "/".join(f"{x:.4g}" for x in quartiles(xs))  # noqa: E731
            print(f"{w:10} {m['name']:32} {fmt(pv):>30} {fmt(cv):>30} {share:5.0%}  {v}")
        print(f"{w:10} {'failed operations':32} {pf:>30} {cf:>30}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
