#!/usr/bin/env python3
"""Non-blank, non-comment line counts of the Scala sources.

Usage: python3 tools/loc.py            (run from anywhere in the repo)

Prints one line per tree: `src/main <n>` and `src/test <n>`. A line is
skipped when, after trimming, it is blank, starts with `//`, lies inside
a `/* ... */` block (the opening and closing lines included), or starts
with `*` (a scaladoc continuation). Everything else counts, including
code that carries a trailing comment. Simplicity changes cite this
output rather than ad-hoc counts.
"""
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TREES = ("src/main", "src/test")


def code_lines(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if in_block:
                in_block = "*/" not in s
                continue
            if not s or s.startswith("//") or s.startswith("*"):
                continue
            if s.startswith("/*"):
                in_block = "*/" not in s[2:]
                continue
            n += 1
    return n


def tree_lines(tree):
    total = 0
    for d, _, files in os.walk(os.path.join(ROOT, tree)):
        total += sum(code_lines(os.path.join(d, f))
                     for f in files if f.endswith(".scala"))
    return total


if __name__ == "__main__":
    for tree in TREES:
        print(f"{tree} {tree_lines(tree)}")
