#!/usr/bin/env python3
"""Compare two oracle_sql.json dumps written by graft.Verify.

Usage: python3 plans/oracle-fragments/compare_oracle.py <before.json> <after.json> [table.md]

Each query is `identical` (same bytes), `whitespace-only` (equal once
every whitespace run outside single-quoted SQL literals is collapsed to one
space and leading/trailing whitespace is dropped) or `DIFFERENT`. Writes a
markdown table when a third argument is given. Exits non-zero when a query
is DIFFERENT or missing on either side.
"""
import json
import re
import sys

LIT = re.compile(r"('(?:[^']|'')*')|(\s+)")


def norm(sql):
    return LIT.sub(lambda m: m.group(1) or " ", sql).strip()


def main():
    a = json.load(open(sys.argv[1]))
    b = json.load(open(sys.argv[2]))
    rows, bad = [], 0
    for q in sorted(set(a) | set(b)):
        if q not in a or q not in b:
            verdict = "MISSING"
        elif a[q] == b[q]:
            verdict = "identical"
        elif norm(a[q]) == norm(b[q]):
            verdict = "whitespace-only"
        else:
            verdict = "DIFFERENT"
        bad += verdict in ("MISSING", "DIFFERENT")
        rows.append((q, verdict))
    counts = {}
    for _, v in rows:
        counts[v] = counts.get(v, 0) + 1
    summary = ", ".join(f"{v}={n}" for v, n in sorted(counts.items()))
    print(f"queries={len(rows)} {summary}")
    for q, v in rows:
        if v in ("MISSING", "DIFFERENT"):
            print(f"{v}: {q}")
    if len(sys.argv) > 3:
        with open(sys.argv[3], "w") as f:
            f.write(f"# Oracle SQL identity, parent vs change\n\n{summary}\n\n")
            f.write("| query | verdict |\n|---|---|\n")
            for q, v in rows:
                f.write(f"| {q} | {v} |\n")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
