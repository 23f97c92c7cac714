#!/usr/bin/env python3
"""Print the N slowest test cases from sbt's JUnit reports.

Usage: python3 tools/slow_cases.py [N] [REPORT_DIR]
(defaults: 10, target/test-reports). One line per case: seconds, suite,
case; then the number of cases and their summed time. A report whose suite has no class in src/test/scala is flagged
STALE: it comes from an older tree, so its times are not this tree's.
"""
import glob
import os
import re
import sys
import xml.etree.ElementTree as ET

n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
reports = sys.argv[2] if len(sys.argv) > 2 else "target/test-reports"
root = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
sources = ""
for path in glob.glob(os.path.join(root, "src/test/scala/**/*.scala"), recursive=True):
    with open(path, encoding="utf-8") as f:
        sources += f.read()

cases = []
for path in sorted(glob.glob(os.path.join(reports, "TEST-*.xml"))):
    suite = ET.parse(path).getroot()
    name = suite.get("name", os.path.basename(path)[5:-4])
    simple = name.rsplit(".", 1)[-1]
    if not re.search(r"\bclass\s+%s\b" % re.escape(simple), sources):
        print("STALE: %s (no class %s in src/test/scala)" % (path, simple))
    for case in suite.iter("testcase"):
        cases.append((float(case.get("time", 0)), name, case.get("name")))

for secs, suite, case in sorted(cases, reverse=True)[:n]:
    print("%9.3f  %s  %s" % (secs, suite, case))
print("total: %d cases, %.1f s" % (len(cases), sum(c[0] for c in cases)))
