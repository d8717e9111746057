#!/usr/bin/env python3
"""Count main-tree Scala lines of code, per file and in total.

A line counts when it is not blank and, with leading whitespace removed,
does not start with `*`, `/**` or `//` (so scaladoc bodies, doc openers and
line comments are left out; code with a trailing comment still counts).

Usage:
    python3 tools/loc.py            # every .scala file under src/main
    python3 tools/loc.py --total    # the total only
    python3 tools/loc.py ROOT       # count under ROOT/src/main instead
"""
import os
import sys


def count(path):
    n = 0
    with open(path, encoding="utf-8", errors="replace") as f:
        for line in f:
            s = line.strip()
            if s and not s.startswith(("*", "/**", "//")):
                n += 1
    return n


def main(argv):
    total_only = "--total" in argv
    args = [a for a in argv if a != "--total"]
    base = args[0] if args else os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
    root = os.path.join(base, "src", "main")
    rows = []
    for d, _, files in os.walk(root):
        for name in files:
            if name.endswith(".scala"):
                p = os.path.join(d, name)
                rows.append((os.path.relpath(p, base), count(p)))
    rows.sort()
    total = sum(n for _, n in rows)
    if not total_only:
        for p, n in rows:
            print(f"{n:7d}  {p}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
