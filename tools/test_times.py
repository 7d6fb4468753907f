#!/usr/bin/env python3
"""Print the seconds and test count of every suite in an sbt test run.

Usage: python3 tools/test_times.py [REPORT_DIR]

REPORT_DIR defaults to target/test-reports (the JUnit XML sbt writes).
Suites are listed slowest first, then the totals and the summed suite
time as a share of the 2,670 s test timeout. Suite times are summed,
so they exclude the sbt start-up and compile time outside the suites.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUDGET_S = 2670.0


def suites(report_dir):
    for path in sorted(glob.glob(os.path.join(report_dir, "*.xml"))):
        root = ET.parse(path).getroot()
        for s in ([root] if root.tag == "testsuite" else root.iter("testsuite")):
            yield (s.get("name"), float(s.get("time", 0)), int(s.get("tests", 0)),
                   int(s.get("failures", 0)) + int(s.get("errors", 0)))


def main():
    report_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, "target", "test-reports")
    rows = sorted(suites(report_dir), key=lambda r: -r[1])
    if not rows:
        sys.exit(f"no suite reports in {report_dir}")
    print(f"{'seconds':>9} {'tests':>5} {'failed':>6}  suite")
    for name, secs, tests, failed in rows:
        print(f"{secs:9.1f} {tests:5d} {failed:6d}  {name}")
    total = sum(r[1] for r in rows)
    print(f"{total:9.1f} {sum(r[2] for r in rows):5d} {sum(r[3] for r in rows):6d}  "
          f"total over {len(rows)} suites")
    print(f"{100 * total / BUDGET_S:.1f}% of the {BUDGET_S:.0f} s budget")


if __name__ == "__main__":
    main()
