#!/usr/bin/env python3
"""Alternating parent/change benchmark pairs, then the compare report.

Usage: python3 tools/ab_pairs.py <parent_checkout> <change_checkout>
                                 [--workload W[,W...]] --seeds A-B --out DIR

`--workload` takes one workload or a comma list; without it, every workload
in the change checkout's BENCHMARK.json runs. For each seed from A to B it
runs `perfbench/run.py --workload W --seed S --trace 0` once in each
checkout for every workload W, parent first on even-numbered pairs and
change first on odd ones, so a drift in host speed falls on both sides
alike. A seed runs all its pairs before the next seed starts. The run length
is `run_seconds` from the checkouts' BENCHMARK.json, which must agree. When
both runs of a pair are done, each run's last stdout line is appended to
DIR/parent/W.jsonl and DIR/change/W.jsonl, so the two files always pair up
by position; a failed run stops the loop with the pairs so far kept. At the
end it prints `perfbench/compare.py DIR/parent DIR/change`, using the change
checkout's compare.py and BENCHMARK.json, which reads every workload's
files at once.
"""
import argparse
import json
import os
import subprocess
import sys


def benchmark(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(spec):
    a, _, b = spec.partition("-")
    return range(int(a), int(b or a) + 1)


def run(checkout, workload, seed, seconds):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        sys.exit(f"ab_pairs: {checkout} {workload} seed {seed} failed ({p.returncode})")
    return lines[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", help="W or W1,W2,...; default: every workload in BENCHMARK.json")
    ap.add_argument("--seeds", required=True, help="A-B, inclusive")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    bench = benchmark(sides["change"])
    seconds = bench["run_seconds"]
    if benchmark(sides["parent"])["run_seconds"] != seconds:
        sys.exit("ab_pairs: the checkouts' BENCHMARK.json differ in run_seconds")
    known = [w["name"] for w in bench["workloads"]]
    workloads = a.workload.split(",") if a.workload else known
    unknown = [w for w in workloads if w not in known]
    if unknown:
        sys.exit(f"ab_pairs: unknown workload(s) {', '.join(unknown)}; BENCHMARK.json has {', '.join(known)}")
    for side in sides:
        os.makedirs(os.path.join(a.out, side), exist_ok=True)
    for i, seed in enumerate(seeds(a.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for workload in workloads:
            lines = {}
            for side in order:
                print(f"[ab_pairs] seed {seed} {workload} {side}", file=sys.stderr, flush=True)
                lines[side] = run(sides[side], workload, seed, seconds)
            for side, line in lines.items():
                with open(os.path.join(a.out, side, f"{workload}.jsonl"), "a") as f:
                    f.write(line + "\n")
    subprocess.run([sys.executable, os.path.join(sides["change"], "perfbench", "compare.py"),
                    os.path.join(a.out, "parent"), os.path.join(a.out, "change"),
                    "--benchmark", os.path.join(sides["change"], "BENCHMARK.json")])


if __name__ == "__main__":
    main()
