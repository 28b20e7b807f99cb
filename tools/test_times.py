#!/usr/bin/env python3
"""Where the Tier-1 test time goes, from sbt's JUnit XML reports.

Prints the summed suite time, then the slowest N suites and the slowest
N test cases.

    python3 tools/test_times.py                  # target/test-reports, N = 10
    python3 tools/test_times.py -n 20 path/to/test-reports
"""
import argparse
import glob
import os
import sys
import xml.etree.ElementTree as ET


def load(report_dir):
    suites, cases = [], []
    for path in sorted(glob.glob(os.path.join(report_dir, "TEST-*.xml"))):
        root = ET.parse(path).getroot()
        for suite in root.iter("testsuite"):
            name = suite.get("name")
            suites.append((float(suite.get("time", 0)), name))
            for case in suite.iter("testcase"):
                cases.append((float(case.get("time", 0)),
                              f"{name}::{case.get('name')}"))
    return suites, cases


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("report_dir", nargs="?", default="target/test-reports")
    ap.add_argument("-n", type=int, default=10, help="rows per table")
    args = ap.parse_args(argv)
    suites, cases = load(args.report_dir)
    if not suites:
        sys.exit(f"no TEST-*.xml under {args.report_dir}")
    print(f"summed: {sum(t for t, _ in suites):.1f} s over {len(suites)} "
          f"suites, {len(cases)} cases")
    for title, rows in (("suites", suites), ("cases", cases)):
        print(f"\nslowest {min(args.n, len(rows))} {title}:")
        for t, name in sorted(rows, reverse=True)[:args.n]:
            print(f"  {t:8.1f} s  {name}")


if __name__ == "__main__":
    main()
