#!/usr/bin/env python3
"""Code lines of src/main/scala, per file and in total.

A code line is any line that is not blank and does not start, after
leading whitespace, with `//`, `*` or `/*`. So whole-line comments and
scaladoc do not count, while a line of code with a trailing comment does.

    python3 tools/main_loc.py [ROOT]

ROOT is the checkout to measure (default: the one holding this script).
Prints one `<lines> <path>` line per .scala file, sorted by path, then
`<lines> total`.
"""
import os
import sys


def code_lines(path):
    n = 0
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            s = line.strip()
            if s and not s.startswith(("//", "*", "/*")):
                n += 1
    return n


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(os.path.dirname(__file__), "..")
    src = os.path.join(root, "src", "main", "scala")
    counts = {}
    for d, _, files in os.walk(src):
        for f in files:
            if f.endswith(".scala"):
                p = os.path.join(d, f)
                counts[os.path.relpath(p, src)] = code_lines(p)
    for p in sorted(counts):
        print(f"{counts[p]:6d} {p}")
    print(f"{sum(counts.values()):6d} total")


if __name__ == "__main__":
    main()
