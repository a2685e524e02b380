#!/usr/bin/env python3
"""Check a ScalaTest run against the list of tests known to fail here.

sbt writes one JUnit XML report per suite under target/test-reports/.
This script reads the reports of ONE run -- those written at or after
the modification time of the marker file given as --since, touched just
before the run -- and compares their failing tests with
scripts/tier1_known_failures.txt, one `Suite::test name` per line: the
tests that read the reference implementation's fixture tables, which
fail wherever that checkout is absent.

Exit status: 0 when every failing test is on the list, 1 otherwise (the
unexpected failures are printed), 2 when no report of the run is found.
Known tests that passed, or did not run, are reported but do not fail
the check.

Usage:
  touch /tmp/run-start
  sbt "testOnly *"
  python3 scripts/tier1_known_failures.py --since /tmp/run-start
"""
import argparse
import glob
import os
import sys
import xml.etree.ElementTree as ET

HERE = os.path.dirname(os.path.abspath(__file__))
REPORTS = os.path.join(HERE, "..", "target", "test-reports")
KNOWN = os.path.join(HERE, "tier1_known_failures.txt")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--since", required=True, metavar="MARKER",
                    help="file touched just before the test run")
    args = ap.parse_args()

    start = os.path.getmtime(args.since)
    with open(KNOWN) as f:
        known = {line.rstrip("\n") for line in f if line.strip()}

    reports = [p for p in sorted(glob.glob(os.path.join(REPORTS, "TEST-*.xml")))
               if os.path.getmtime(p) >= start]
    if not reports:
        print(f"no test report in {REPORTS} from this run", file=sys.stderr)
        return 2

    ran, failed = set(), set()
    for path in reports:
        for case in ET.parse(path).getroot().iter("testcase"):
            name = f"{case.get('classname')}::{case.get('name')}"
            ran.add(name)
            if case.find("failure") is not None or case.find("error") is not None:
                failed.add(name)

    unexpected = sorted(failed - known)
    print(f"{len(reports)} suites, {len(ran)} tests, {len(failed)} failed "
          f"({len(failed & known)} known, {len(unexpected)} unexpected)")
    for name in sorted((known & ran) - failed):
        print(f"known failure passed: {name}")
    missing = known - ran
    if missing:
        print(f"{len(missing)} known failures did not run")
    for name in unexpected:
        print(f"UNEXPECTED: {name}")
    return 1 if unexpected else 0


if __name__ == "__main__":
    sys.exit(main())
