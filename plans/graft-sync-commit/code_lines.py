#!/usr/bin/env python3
"""Count the code lines of the Scala files in a directory.

Usage:
    python3 plans/graft-sync-commit/code_lines.py <dir> [<dir> ...]

A code line is a line that is neither blank nor comment-only: `//` lines
and the lines of `/* ... */` and `/** ... */` blocks are skipped, and a
line that closes a block and then holds code counts. Prints one line per
file and a total per directory, so a change that only edits comments or
blank lines leaves the totals where they were.
"""
import os
import sys


def code_lines(path):
    n = 0
    in_block = False
    for line in open(path, encoding="utf-8"):
        s = line.strip()
        if in_block:
            if "*/" in s:
                in_block = False
                if s.split("*/", 1)[1].strip():
                    n += 1
            continue
        if not s or s.startswith("//"):
            continue
        if s.startswith("/*"):
            if "*/" not in s:
                in_block = True
            elif s.split("*/", 1)[1].strip():
                n += 1
            continue
        n += 1
    return n


def main(dirs):
    for d in dirs:
        total = 0
        for f in sorted(os.listdir(d)):
            if f.endswith(".scala"):
                c = code_lines(os.path.join(d, f))
                total += c
                print(f"{d}/{f} {c}")
        print(f"{d} total {total}")


if __name__ == "__main__":
    main(sys.argv[1:])
