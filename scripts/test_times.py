#!/usr/bin/env python3
"""Summarize ScalaTest timing from sbt's JUnit XML reports.

Prints the total suite time, the test count and the failures/errors,
then the ten slowest suites and the ten slowest test cases, so growth in
test time shows before a commit rather than as a timeout.

    python3 scripts/test_times.py [REPORT_DIR]   # default target/test-reports

Exits 1 when no report is found.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def main() -> int:
    report_dir = sys.argv[1] if len(sys.argv) > 1 else "target/test-reports"
    files = sorted(glob.glob(os.path.join(report_dir, "*.xml")))
    if not files:
        print(f"[test-times] no reports under {report_dir}", file=sys.stderr)
        return 1
    suites, cases = [], []
    tests = failures = errors = 0
    for f in files:
        root = ET.parse(f).getroot()
        name = root.get("name", os.path.basename(f))
        suites.append((float(root.get("time", 0)), name))
        tests += int(root.get("tests", 0))
        failures += int(root.get("failures", 0))
        errors += int(root.get("errors", 0))
        for tc in root.iter("testcase"):
            cases.append((float(tc.get("time", 0)), name, tc.get("name", "")))
    total = sum(t for t, _ in suites)
    print(f"[test-times] {len(suites)} suites, {tests} tests, "
          f"{failures} failures, {errors} errors, {total:.1f} s total")
    print("[test-times] slowest suites:")
    for t, name in sorted(suites, reverse=True)[:10]:
        print(f"  {t:8.1f} s  {name}")
    print("[test-times] slowest cases:")
    for t, name, case in sorted(cases, reverse=True)[:10]:
        print(f"  {t:8.1f} s  {name}: {case}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
