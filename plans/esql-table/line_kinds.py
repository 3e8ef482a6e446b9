#!/usr/bin/env python3
"""Split a Scala file's lines into code, comment and blank lines.

Usage: python3 plans/esql-table/line_kinds.py <parent.scala> <change.scala>

A comment line is one whose first non-blank characters are `//`, `/*` or
`*` (a scaladoc continuation); a line with code before a trailing `//`
counts as code. Prints the three counts for each file, then every
comment line of the parent that the change no longer has (compared as
stripped text, with multiplicity).
"""
import collections
import sys


def kinds(path):
    code, comment, blank = [], [], 0
    for line in open(path, encoding="utf-8"):
        t = line.strip()
        if not t:
            blank += 1
        elif t.startswith(("//", "/*", "*")):
            comment.append(t)
        else:
            code.append(t)
    return code, comment, blank


def main():
    a, b = sys.argv[1:3]
    ka, kb = kinds(a), kinds(b)
    for name, (code, comment, blank) in (("parent", ka), ("change", kb)):
        print(f"{name}: code={len(code)} comment={len(comment)} blank={blank} "
              f"total={len(code) + len(comment) + blank}")
    gone = collections.Counter(ka[1]) - collections.Counter(kb[1])
    print(f"comment lines of the parent not in the change: {sum(gone.values())}")
    for t, n in sorted(gone.items()):
        print(f"  {n}x {t}")


if __name__ == "__main__":
    main()
