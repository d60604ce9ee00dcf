#!/usr/bin/env python3
"""Count the code lines of the engine's main sources.

A code line is a non-blank line whose first non-blank characters are not
`//`, `/*` or `*` (so scaladoc and block-comment bodies do not count).

    python3 tools/loc.py            # total for src/main/scala
    python3 tools/loc.py --by-file  # per-file counts, then the total
"""
import argparse
import os
import sys

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "src", "main", "scala")
COMMENT_PREFIXES = ("//", "/*", "*")


def code_lines(path):
    with open(path, encoding="utf-8") as f:
        return sum(1 for line in f if (s := line.strip()) and not s.startswith(COMMENT_PREFIXES))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--by-file", action="store_true", help="print the count of each file before the total")
    args = ap.parse_args()
    root = os.path.normpath(ROOT)
    counts = {}
    for d, _, files in os.walk(root):
        for name in files:
            if name.endswith(".scala"):
                p = os.path.join(d, name)
                counts[os.path.relpath(p, root)] = code_lines(p)
    if args.by_file:
        for rel in sorted(counts):
            print(f"{counts[rel]:7d}  {rel}")
    print(sum(counts.values()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
