#!/usr/bin/env python3
"""Per-suite timing summary of the last `sbt test` run.

Usage: python3 scripts/suite_times.py [reportDir]

Reads the JUnit reports sbt writes (<reportDir>/TEST-*.xml, default
target/test-reports) and prints one markdown table row per suite:
seconds, tests, failures and errors, slowest first, then the totals.
The reports are complete even when the console log is truncated.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def suites(report_dir):
    for path in glob.glob(os.path.join(report_dir, "TEST-*.xml")):
        s = ET.parse(path).getroot()
        yield (s.get("name"), float(s.get("time", 0)), int(s.get("tests", 0)),
               int(s.get("failures", 0)), int(s.get("errors", 0)))


def main():
    report_dir = sys.argv[1] if len(sys.argv) > 1 else "target/test-reports"
    rows = sorted(suites(report_dir), key=lambda r: (-r[1], r[0]))
    if not rows:
        sys.exit(f"no TEST-*.xml reports under {report_dir}")
    print("| suite | seconds | tests | failures | errors |")
    print("|---|---:|---:|---:|---:|")
    for name, secs, tests, fails, errs in rows:
        print(f"| {name} | {secs:.1f} | {tests} | {fails} | {errs} |")
    total = [sum(r[i] for r in rows) for i in range(1, 5)]
    print(f"| **total ({len(rows)} suites)** | {total[0]:.1f} | {total[1]} | "
          f"{total[2]} | {total[3]} |")


if __name__ == "__main__":
    main()
