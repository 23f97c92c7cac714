#!/usr/bin/env python3
"""List the public functions of src/main that no entry point reaches.

Reachability is a closure over names. The roots are every `def main`, all
code under src/main/scala that sits outside a `def` body (object and class
bodies: vals, constructors, the SparkEntry query table), every `override
def` (the framework calls those), and all of perfbench/src. Each word in
reached code reaches every `def` of that name, and the body of a reached
`def` is reached code in turn. A `def apply`/`unapply` is also reached when
the object or class that holds it is named. A non-private, non-override
`def` under src/main/scala, not local to another `def`, that the closure
never reaches is listed: only specs (or nothing) call it, directly or
through other such functions. Grouped by file.

Comments are stripped; string literals are kept. The match is by NAME, so
it still undercounts: a common name (`apply`, `run`, `load`, ...) reached
anywhere reaches every def that carries it. A `def` body is found by
indentation: the lines after the `def` that are indented deeper, plus a
closing brace at the def's own indentation.

    python3 tools/spec_only.py [repo_root]
"""
import os
import re
import sys
from collections import defaultdict

ROOT = sys.argv[1] if len(sys.argv) > 1 else os.path.join(os.path.dirname(__file__), "..")
MAIN = os.path.join(ROOT, "src", "main", "scala")
BENCH = os.path.join(ROOT, "perfbench", "src")
DEF = re.compile(r"^(\s*)((?:@\w+\s+|final\s+|implicit\s+|override\s+|protected\S*\s+|"
                 r"private\S*\s+)*)def\s+([A-Za-z_]\w*)")
TYPE = re.compile(r"^(\s*)(?:[a-z]+\s+)*(?:object|class|trait)\s+([A-Za-z_]\w*)")
WORD = re.compile(r"\w+")


def strip_comments(text):
    text = re.sub(r"/\*.*?\*/", lambda m: "\n" * m.group(0).count("\n"), text, flags=re.S)
    return re.sub(r"(^|\s)//.*$", r"\1", text, flags=re.M)


def indent(line):
    return len(line) - len(line.lstrip())


def scala_files(top):
    for d, _, names in os.walk(top):
        for n in sorted(names):
            if n.endswith(".scala"):
                yield os.path.join(d, n)


defs = []                  # (file, line no, name, public, words of the body)
by_name = defaultdict(list)
roots = set()
for top in (MAIN, BENCH):
    for f in scala_files(top):
        lines = strip_comments(open(f, encoding="utf-8").read()).split("\n")
        if top == BENCH:
            roots.update(w for line in lines for w in WORD.findall(line))
            continue
        covered = [False] * len(lines)
        owners = []        # (indent, type name) of the enclosing objects and classes
        for i, line in enumerate(lines):
            if line.strip():
                owners = [o for o in owners if o[0] < indent(line)]
            t = TYPE.match(line)
            if t:
                owners.append((len(t.group(1)), t.group(2)))
            m = DEF.match(line)
            if not m:
                continue
            own, mods, name = len(m.group(1)), m.group(2), m.group(3)
            local = covered[i]
            end = i + 1
            while end < len(lines):
                s = lines[end]
                if s.strip() and indent(s) <= own:
                    end += s.strip().startswith("}") and indent(s) == own
                    break
                end += 1
            body = set(WORD.findall(" ".join(lines[i:end])))
            for j in range(i, end):
                covered[j] = True
            public = not local and not re.search(r"\b(private|protected|override)\b", mods)
            if name == "main" or "override" in mods:
                roots |= body
                continue
            d = (f, i + 1, name, public, body)
            defs.append(d)
            by_name[name].append(d)
            if name in ("apply", "unapply") and owners:
                by_name[owners[-1][1]].append(d)
        roots.update(w for i, line in enumerate(lines) if not covered[i]
                     for w in WORD.findall(line))

reached, seen, todo = set(), set(), list(roots)
while todo:
    w = todo.pop()
    if w in seen:
        continue
    seen.add(w)
    for d in by_name.get(w, ()):
        if id(d) not in reached:
            reached.add(id(d))
            todo.extend(d[4] - seen)

found = defaultdict(list)
for d in defs:
    if d[3] and id(d) not in reached:
        found[os.path.relpath(d[0], MAIN)].append((d[1], d[2]))

for f in sorted(found):
    print(f"{f} ({len(found[f])})")
    for n, name in found[f]:
        print(f"  {n}: {name}")
print(f"total: {sum(len(v) for v in found.values())}")
