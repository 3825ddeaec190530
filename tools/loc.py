#!/usr/bin/env python3
"""Count code lines per file and in total.

A code line is a non-blank line whose first non-space characters are
not `//`, `/*`, `*` or `*/` — comment and Scaladoc lines do not count.

Usage: python3 tools/loc.py <file> [<file> ...]
"""
import sys

COMMENT = ("//", "/*", "*")  # "*/" starts with "*"


def code_lines(path):
    with open(path, encoding="utf-8") as f:
        return sum(1 for line in f
                   if line.strip() and not line.strip().startswith(COMMENT))


def main(paths):
    if not paths:
        sys.exit(__doc__.strip())
    total = 0
    for p in paths:
        n = code_lines(p)
        total += n
        print(f"{n:6d}  {p}")
    print(f"{total:6d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
