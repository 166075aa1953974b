#!/usr/bin/env python3
"""Code lines of src/main/scala, per file and in total.

A code line is any line that is not blank and does not start, after
leading whitespace, with `//`, `*` or `/*`. So whole-line comments and
scaladoc do not count, while a line of code with a trailing comment does.

    python3 tools/main_loc.py [ROOT [BASE]]

ROOT is the checkout to measure (default: the one holding this script).
Prints one `<lines> <path>` line per .scala file, sorted by path, then
`<lines> total`.

With a second checkout BASE, prints instead one `<base> <root> <delta>
<path>` line per file whose count differs (a file missing on one side
counts 0 there), then the same columns for the total; delta is ROOT's
count minus BASE's.
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


def counts(root):
    """relative path -> code lines, for every .scala file under src/main/scala."""
    src = os.path.join(root, "src", "main", "scala")
    out = {}
    for d, _, files in os.walk(src):
        for f in files:
            if f.endswith(".scala"):
                p = os.path.join(d, f)
                out[os.path.relpath(p, src)] = code_lines(p)
    return out


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(os.path.dirname(__file__), "..")
    now = counts(root)
    if len(sys.argv) <= 2:
        for p in sorted(now):
            print(f"{now[p]:6d} {p}")
        print(f"{sum(now.values()):6d} total")
        return
    base = counts(sys.argv[2])
    for p in sorted(now.keys() | base.keys()):
        b, r = base.get(p, 0), now.get(p, 0)
        if b != r:
            print(f"{b:6d} {r:6d} {r - b:+6d} {p}")
    b, r = sum(base.values()), sum(now.values())
    print(f"{b:6d} {r:6d} {r - b:+6d} total")


if __name__ == "__main__":
    main()
