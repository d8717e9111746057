#!/usr/bin/env python3
"""Count main-tree Scala lines of code, per file and in total.

A line counts when it is not blank and, with leading whitespace removed,
does not start with `*`, `/**` or `//` (so scaladoc bodies, doc openers and
line comments are left out; code with a trailing comment still counts).

Usage:
    python3 tools/loc.py              # every .scala file under src/main
    python3 tools/loc.py --total      # the total only
    python3 tools/loc.py ROOT         # count under ROOT/src/main instead
    python3 tools/loc.py --since REV  # per changed file, LOC at git
                                      # revision REV -> in the working
                                      # tree, then both totals and the delta
"""
import os
import subprocess
import sys


def count_lines(lines):
    n = 0
    for line in lines:
        s = line.strip()
        if s and not s.startswith(("*", "/**", "//")):
            n += 1
    return n


def count(path):
    with open(path, encoding="utf-8", errors="replace") as f:
        return count_lines(f)


def tree(base):
    """{path relative to base: LOC} for the .scala files under src/main."""
    out = {}
    for d, _, files in os.walk(os.path.join(base, "src", "main")):
        for name in files:
            if name.endswith(".scala"):
                p = os.path.join(d, name)
                out[os.path.relpath(p, base)] = count(p)
    return out


def at_rev(base, rev):
    """{path: LOC} for the .scala files under src/main at git revision rev."""
    def git(*args):
        return subprocess.run(["git", "-C", base, *args], check=True,
                              capture_output=True).stdout.decode(
                                  "utf-8", errors="replace")
    paths = [p for p in git("ls-tree", "-r", "--name-only", rev,
                            "--", "src/main").splitlines()
             if p.endswith(".scala")]
    return {p: count_lines(git("show", f"{rev}:{p}").splitlines())
            for p in paths}


def since(base, rev):
    before, after = at_rev(base, rev), tree(base)
    for p in sorted(set(before) | set(after)):
        b, a = before.get(p, 0), after.get(p, 0)
        if a != b:
            print(f"{b:7d} -> {a:7d}  {a - b:+6d}  {p}")
    tb, ta = sum(before.values()), sum(after.values())
    print(f"{tb:7d} -> {ta:7d}  {ta - tb:+6d}  total")


def main(argv):
    total_only = "--total" in argv
    args = [a for a in argv if a != "--total"]
    here = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
    if "--since" in args:
        i = args.index("--since")
        if i + 1 >= len(args):
            sys.exit("usage: tools/loc.py --since REV")
        since(os.path.abspath(here), args[i + 1])
        return
    base = args[0] if args else here
    rows = sorted(tree(base).items())
    total = sum(n for _, n in rows)
    if not total_only:
        for p, n in rows:
            print(f"{n:7d}  {p}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
