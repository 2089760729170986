#!/usr/bin/env python3
"""Count code lines under source directories.

A code line is one that is not blank and, stripped of leading whitespace,
does not start with `//`, `/*` or `*` (so scaladoc and comment lines do
not count). Counts `.scala` and `.java` files.

    python3 tools/loc.py                     # src/main and src/test
    python3 tools/loc.py src/main/scala/graft/queries
    python3 tools/loc.py --root ../other-checkout src/main

Prints one `<dir> <lines>` row per directory, in argument order.
"""
import argparse
import os
import sys

SUFFIXES = (".scala", ".java")
COMMENT = ("//", "/*", "*")


def count(path):
    n = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(SUFFIXES):
                with open(os.path.join(dirpath, f), encoding="utf-8") as fh:
                    for line in fh:
                        s = line.strip()
                        if s and not s.startswith(COMMENT):
                            n += 1
    return n


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--root", default=".", help="checkout to measure")
    ap.add_argument("dirs", nargs="*", default=["src/main", "src/test"])
    a = ap.parse_args()
    for d in a.dirs:
        p = os.path.join(a.root, d)
        if not os.path.isdir(p):
            sys.exit(f"no such directory: {p}")
        print(f"{d} {count(p)}")


if __name__ == "__main__":
    main()
