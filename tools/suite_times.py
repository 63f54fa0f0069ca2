#!/usr/bin/env python3
"""Summarise the JUnit XML reports sbt writes after a test run.

Usage: python3 tools/suite_times.py [REPORT_DIR]   (default target/test-reports)

Prints the summed suite time, each suite's time (slowest first) and the
10 slowest tests. Times are the reports' own `time` attributes, in seconds.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def main() -> int:
    report_dir = sys.argv[1] if len(sys.argv) > 1 else "target/test-reports"
    paths = sorted(glob.glob(os.path.join(report_dir, "*.xml")))
    if not paths:
        print(f"no JUnit reports under {report_dir}", file=sys.stderr)
        return 1
    suites, tests = [], []
    for path in paths:
        root = ET.parse(path).getroot()
        for suite in root.iter("testsuite"):
            name = suite.get("name", os.path.basename(path))
            suites.append((float(suite.get("time", 0)), name,
                           int(suite.get("tests", 0)),
                           int(suite.get("failures", 0)) + int(suite.get("errors", 0))))
            for case in suite.iter("testcase"):
                tests.append((float(case.get("time", 0)), name, case.get("name", "")))
    total = sum(s[0] for s in suites)
    print(f"summed suite time: {total:.1f} s over {len(suites)} suites, "
          f"{sum(s[2] for s in suites)} tests, {sum(s[3] for s in suites)} failed")
    print("\nper suite:")
    for t, name, n, bad in sorted(suites, reverse=True):
        print(f"  {t:8.1f} s  {100 * t / total if total else 0:5.1f}%  {name} "
              f"({n} tests{f', {bad} failed' if bad else ''})")
    print("\n10 slowest tests:")
    for t, suite, name in sorted(tests, reverse=True)[:10]:
        print(f"  {t:8.1f} s  {suite} :: {name}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
