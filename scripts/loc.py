#!/usr/bin/env python3
"""Count code lines per Scala file under src/main, plus the total.

A code line is a non-blank line that, once stripped, does not start
with `//`, `*` or `/*` (so scaladoc and line comments are left out).

Usage: python3 scripts/loc.py [root]   (default root: src/main)
"""
import os
import sys


def code_lines(path):
    n = 0
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if s and not s.startswith(("//", "*", "/*")):
                n += 1
    return n


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "src/main"
    rows = []
    for d, _, files in os.walk(root):
        for name in files:
            if name.endswith(".scala"):
                p = os.path.join(d, name)
                rows.append((p, code_lines(p)))
    rows.sort()
    for p, n in rows:
        print(f"{n:6d}  {p}")
    print(f"{sum(n for _, n in rows):6d}  total")


if __name__ == "__main__":
    main()
