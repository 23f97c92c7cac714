#!/usr/bin/env python3
"""List the public functions of src/main that no program code names.

Each non-private, non-override `def` under src/main/scala is searched as a
whole word in every .scala file under src/main/scala and perfbench/src,
comments stripped. A def is listed when its name appears nowhere but on its
own definition line: only specs (or nothing) reach it. Grouped by file.

The match is by NAME only, so it undercounts: an overload, or any other
identifier sharing a common name (`apply`, `run`, `load`, ...), hides an
unused function, and so does a call from another listed function. `main`
is skipped as an entry point.

    python3 tools/spec_only.py [repo_root]
"""
import os
import re
import sys
from collections import Counter, defaultdict

ROOT = sys.argv[1] if len(sys.argv) > 1 else os.path.join(os.path.dirname(__file__), "..")
MAIN = os.path.join(ROOT, "src", "main", "scala")
DEF = re.compile(r"^\s*((?:@\w+\s+|final\s+|implicit\s+|override\s+|protected\S*\s+|"
                 r"private\S*\s+)*)def\s+([A-Za-z_]\w*)")


def strip_comments(text):
    text = re.sub(r"/\*.*?\*/", lambda m: "\n" * m.group(0).count("\n"), text, flags=re.S)
    return re.sub(r"(^|\s)//.*$", r"\1", text, flags=re.M)


lines = {}
for top in (MAIN, os.path.join(ROOT, "perfbench", "src")):
    for d, _, names in os.walk(top):
        for n in names:
            if n.endswith(".scala"):
                f = os.path.join(d, n)
                lines[f] = strip_comments(open(f, encoding="utf-8").read()).split("\n")
words = Counter(w for ls in lines.values() for line in ls for w in re.findall(r"\w+", line))

found = defaultdict(list)
for f, ls in lines.items():
    for i, line in enumerate(ls):
        m = DEF.match(line)
        if (not f.startswith(MAIN) or not m or m.group(2) == "main"
                or re.search(r"\b(private|protected|override)\b", m.group(1))):
            continue
        if words[m.group(2)] == len(re.findall(r"\b%s\b" % m.group(2), line)):
            found[os.path.relpath(f, MAIN)].append((i + 1, m.group(2)))

for f in sorted(found):
    print(f"{f} ({len(found[f])})")
    for n, name in found[f]:
        print(f"  {n}: {name}")
print(f"total: {sum(len(v) for v in found.values())}")
