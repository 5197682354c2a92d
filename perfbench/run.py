#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <daily|dashboard> --seed <n>
                             --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the harness and the
program from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. Every run generates its inputs from
the seed under perfbench/.work, runs the workload in one JVM, checks the
outputs after the timed region and deletes its work directory. A traced
run first moves its span tree to perfbench/.work/spans-<workload>-<seed>.json.

Untraced (--trace 0), the last stdout line carries the end-to-end metrics;
traced (--trace 1), the per-layer metrics, and the traced run's own
end-to-end figures are printed above it as the tracing overhead. See
perfbench/NOTES.md for what each workload and metric is.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# Inputs per workload; NOTES.md gives the reason for each figure.
WORKLOADS = {
    "daily": dict(symbols=100, history_days=30, replay_days=2, per_symbol_day=2.0),
    "dashboard": dict(symbols=100, history_days=30, replay_days=0, per_symbol_day=2.0),
}
JVM_TIMEOUT_S = 165

END_TO_END = [("setup_s", "s"), ("op_p50_ms", "ms"), ("op_p90_ms", "ms"), ("ops_per_s", "1/s"),
              ("pass_s", "s")]
PER_LAYER = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["per_layer"] \
    if os.path.exists(os.path.join(ROOT, "BENCHMARK.json")) else []


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_jars():
    """The Spark jars directory the program's own build compiles against."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    return m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


def build():
    """Compile the harness with the program's sources; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: no graft sources at the checkout root; run from a full checkout")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp = os.path.join(HERE, "target", "sources.sha256")
    digest = sources_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=f"-Xmx2g -XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dgraft.sparkJars={spark_jars()}")
    repo_cfg = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repo_cfg):
        # resolve from the toolchain's local caches only
        env["SBT_OPTS"] += (f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repo_cfg}"
                            " -Dsbt.offline=true")
    log("building (first run in this checkout)")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if p.returncode != 0:
        raise SystemExit(f"perfbench: build failed ({p.returncode})")
    log(f"built in {time.time() - t0:.0f}s")
    with open(stamp, "w") as f:
        f.write(digest)
    return open(cp_file).read().strip()


JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(cp, work, args, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + [f"{k}={v}" for k, v in args.items()]
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work, start_new_session=True)
    try:
        rc = p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit("perfbench: workload JVM ran past its time limit")
    if rc != 0:
        raise SystemExit(f"perfbench: workload JVM exited with {rc}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def quantile(xs, q):
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    k = (len(s) - 1) * q
    i = int(k)
    return s[i] + (s[min(i + 1, len(s) - 1)] - s[i]) * (k - i)


def generate(workload, seed, work):
    import gen
    w = WORKLOADS[workload]
    t0 = time.time()
    n, perm = gen.generate(seed, os.path.join(work, "sf"), os.path.join(work, "staged"),
                           w["symbols"], w["history_days"], w["replay_days"],
                           per_symbol_day=w["per_symbol_day"])
    with open(os.path.join(work, "symbols_by_rank.txt"), "w") as f:
        f.write("\n".join(str(int(s)) for s in perm))
    return time.time() - t0, n


def run_checks(workload, work, res):
    import checks
    sf = os.path.join(work, "sf")
    out = {"schema_conformable": (res["schema_conformable"], "")}
    if workload == "daily":
        out["lake_matches_oracles"] = checks.lake_matches_oracles(
            sf, os.path.join(work, "lake"), res["patterns_oracle_sql"])
    if workload == "dashboard":
        for view, sql in sorted(res["view_oracle_sql"].items()):
            with open(os.path.join(work, "check", f"view_{view}.jsonl")) as f:
                rows = [json.loads(ln) for ln in f if ln.strip()]
            out[f"view_{view}_matches_twin"] = checks.view_matches_twin(view, rows, sql, sf)
        out["catalog_matches_oracles"] = checks.catalog_matches_oracles(
            ROOT, sf, os.path.join(work, "check", "catalog"), res["catalog_oracle_sql"])
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cp = build()
    deadline = time.time() + JVM_TIMEOUT_S
    cpus = len(os.sched_getaffinity(0))  # what nproc reports
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        gen_s, n_events = generate(a.workload, a.seed, work)
        args = dict(workload=a.workload, work=work, seconds=a.seconds, trace=a.trace,
                    cpus=cpus, seed=a.seed)
        launch = time.time()
        res = run_jvm(cp, work, args, deadline)
        setup_s = gen_s + (res["setup_end_ms"] / 1000.0 - launch)
        c0 = time.time()
        chk = run_checks(a.workload, work, res)
        log(f"generate {gen_s:.1f}s, jvm {c0 - launch:.1f}s, checks {time.time() - c0:.1f}s")
        if a.trace:
            spans = os.path.join(HERE, ".work", f"spans-{a.workload}-{a.seed}.json")
            os.replace(os.path.join(work, "spans.json"), spans)
            log(f"span tree in {os.path.relpath(spans, ROOT)}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = res["ops"]
    failed = int(res.get("failed_requests", 0)) + sum(1 for ok, _ in chk.values() if not ok)
    attempted = len(ops) + int(res.get("failed_requests", 0)) + len(chk)
    if a.workload == "daily":
        walls = [o["wall_s"] for o in ops]
        pass_s, ops_per_s = sum(walls), len(walls) / sum(walls)
    else:
        walls = [o["wall_s"] for o in ops if o["kind"] == "view"]
        pass_s, ops_per_s = res["pass_s"], len(walls) / res["views_s"]
    e2e = {
        "setup_s": setup_s,
        "op_p50_ms": statistics.median(walls) * 1000,
        "op_p90_ms": quantile(walls, 0.9) * 1000,
        "ops_per_s": ops_per_s,
        "pass_s": pass_s,
    }
    # the same figures under their workload-specific names, with the counts
    # behind them
    if a.workload == "daily":
        named = {"day_p50_s": (e2e["op_p50_ms"] / 1000, "s"), "replay_s": (pass_s, "s"),
                 "history_days": (res["history_days"], "d"),
                 "history_longer_than_lookback": (int(res["history_longer_than_lookback"]), "bool"),
                 "lake_bytes_per_event": (res["lake_bytes"] / res["source_events"], "B")}
        named["stages"] = (" ".join(f"{k}={v:.2f}" for k, v in ops[0]["stages"].items()), "s")
    else:
        queries = [o["wall_s"] for o in ops if o["kind"] == "query"]
        named = {"view_p50_ms": (e2e["op_p50_ms"], "ms"), "view_p90_ms": (e2e["op_p90_ms"], "ms"),
                 "views_per_s": (ops_per_s, "1/s"), "view_requests": (len(walls), "count"),
                 "catalog_s": (pass_s, "s"), "query_p50_s": (statistics.median(queries), "s"),
                 "clients": (res["clients"], "count")}
    named["error_rate"] = (failed / attempted, "ratio")
    named["source_events"] = (n_events, "count")

    for k, (ok, detail) in chk.items():
        print(f"check {'ok  ' if ok else 'FAIL'} {k} {detail}".rstrip())
    units = dict(END_TO_END)
    for k, v in e2e.items():
        print(f"{'traced ' if a.trace else ''}{k} {v:.6g} {units[k]}")
    for k, (v, u) in named.items():
        print(f"{'traced ' if a.trace else ''}{k} {v if isinstance(v, str) else f'{v:.6g}'} {u}")
    named["peak_rss_mb"] = (res["peak_rss_mb"], "MB")
    res["layers"]["process.peak_rss_mb"] = res["peak_rss_mb"]
    if a.trace:
        res["layers"]["trace.op_p50_ms"] = e2e["op_p50_ms"]
        res["layers"]["trace.setup_s"] = setup_s
        metrics = {m["name"]: {"value": float(res["layers"].get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in PER_LAYER}
        for k, v in sorted(res["layers"].items()):
            print(f"layer {k} {v:.6g}")
    else:
        metrics = {k: {"value": float(v), "unit": units[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
