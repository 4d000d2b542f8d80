#!/usr/bin/env python3
"""Line and reachability census of the engine's Scala sources.

Prints, for main (src/main) and test (src/test) Scala, the number of lines
split into code, comment and blank. A line is blank if it holds only
whitespace, a comment if it starts with `//` or lies inside a `/* ... */`
block (the opening and closing lines included), and code otherwise.

It then lists the `def`s of main Scala whose name appears nowhere else in
main Scala or in perfbench/src: candidates for deletion, to be checked by
hand (an override, a same-named member or a reflective call can hide a
use, and a name that only tests reach still counts as unreached here).

Run from anywhere:  python3 tools/census.py [--no-defs]
"""
import argparse
import collections
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# an `override def` is reached through its parent type, so it is not listed
DEF = re.compile(r"^(?!.*\boverride\b).*?\bdef\s+([A-Za-z_][A-Za-z0-9_]*)", re.M)
WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
# defs that the JVM or Scala call by name
IMPLICIT_USES = {"main", "apply", "unapply", "writeReplace", "readResolve"}


def scala_files(*dirs):
    for d in dirs:
        for base, _, names in os.walk(os.path.join(ROOT, d)):
            for n in sorted(names):
                if n.endswith(".scala"):
                    yield os.path.join(base, n)


def classify(lines):
    """Counts (code, comment, blank) over one file's lines."""
    code = comment = blank = 0
    in_block = False
    for line in lines:
        s = line.strip()
        if in_block:
            comment += 1
            if "*/" in s:
                in_block = False
        elif not s:
            blank += 1
        elif s.startswith("//"):
            comment += 1
        elif s.startswith("/*"):
            comment += 1
            in_block = "*/" not in s[2:]
        else:
            code += 1
    return code, comment, blank


def census(d):
    total = [0, 0, 0]
    files = 0
    for p in scala_files(d):
        with open(p, encoding="utf-8") as f:
            c = classify(f.read().splitlines())
        total = [a + b for a, b in zip(total, c)]
        files += 1
    return files, total


def unreached_defs():
    """(file, line, name) of main defs named nowhere else in main or perfbench."""
    words = collections.Counter()
    defs = []
    for p in scala_files("src/main", "perfbench/src"):
        with open(p, encoding="utf-8") as f:
            text = f.read()
        words.update(WORD.findall(text))
        if p.startswith(os.path.join(ROOT, "src/main")):
            for m in DEF.finditer(text):
                defs.append((p, text.count("\n", 0, m.start(1)) + 1, m.group(1)))
    per_name = collections.Counter(name for _, _, name in defs)
    return [(p, ln, name) for p, ln, name in defs
            if name not in IMPLICIT_USES and words[name] <= per_name[name]]


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--no-defs", action="store_true",
                    help="print the line census only")
    args = ap.parse_args(argv)
    print(f"{'scope':<6} {'files':>6} {'lines':>8} {'code':>8} {'comment':>8} {'blank':>8}")
    for scope, d in (("main", "src/main"), ("test", "src/test")):
        files, (code, comment, blank) = census(d)
        print(f"{scope:<6} {files:>6} {code + comment + blank:>8,} {code:>8,} "
              f"{comment:>8,} {blank:>8,}")
    if not args.no_defs:
        found = unreached_defs()
        print(f"\nmain defs named nowhere else in main or perfbench/src: {len(found)}")
        for p, ln, name in found:
            print(f"  {os.path.relpath(p, ROOT)}:{ln}  {name}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
