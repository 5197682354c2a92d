#!/usr/bin/env python3
"""Per-suite test durations from the JUnit XML reports sbt writes, largest
first, with the total against the Tier-1 timeout.

Usage: python3 tools/suite_times.py [reports_dir]

reports_dir defaults to target/test-reports. Each TEST-*.xml holds one
suite; its <testsuite time="..."> is the suite's wall time in seconds.
Suites run one after another in the one test JVM, so the total is close to
the `testOnly *` wall time minus compilation and JVM start.
"""
import argparse
import glob
import os
import sys
import xml.etree.ElementTree as ET

TIER1_TIMEOUT_S = 2670


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("reports", nargs="?", default="target/test-reports")
    a = ap.parse_args()
    rows = []
    for f in glob.glob(os.path.join(a.reports, "TEST-*.xml")):
        s = ET.parse(f).getroot()
        bad = int(s.get("failures", 0)) + int(s.get("errors", 0))
        rows.append((float(s.get("time", 0)), s.get("name"), int(s.get("tests", 0)), bad))
    if not rows:
        sys.exit(f"no TEST-*.xml under {a.reports}")
    rows.sort(reverse=True)
    total = sum(r[0] for r in rows)
    print(f"{'suite':40} {'seconds':>9} {'share':>6} {'tests':>6} {'failed':>6}")
    for t, name, n, bad in rows:
        print(f"{name:40} {t:9.1f} {t / total:6.1%} {n:6d} {bad:6d}")
    print(f"{'total':40} {total:9.1f} {'':6} {sum(r[2] for r in rows):6d} {sum(r[3] for r in rows):6d}")
    print(f"timeout {TIER1_TIMEOUT_S} s: total is {total / TIER1_TIMEOUT_S:.0%} of it, "
          f"{TIER1_TIMEOUT_S - total:.0f} s to spare")


if __name__ == "__main__":
    main()
