#!/usr/bin/env python3
"""Diff two graft.tools.MultiExplain dumps with expression ids masked.

Usage: python3 plans/oracle-fragments/plan_diff.py <dirA> <sufA> <dirB> <sufB> <query>...

Masks `#<n>` expression ids, plan-id numbers `[plan_id=<n>]`, operator ids
`(<n>)`, whole-stage-codegen ids and query-stage ids (a bare `Arguments: <n>`
line). The last two follow the order in which adaptive execution finishes
its stages, so two runs of one tree can differ in them. Prints `identical`
or a unified diff per query.
"""
import difflib
import re
import sys

MASK = [(re.compile(r"#\d+L?"), "#_"), (re.compile(r"plan_id=\d+"), "plan_id=_"),
        (re.compile(r"\(\d+\)"), "(_)"), (re.compile(r"AdaptiveSparkPlan isFinalPlan=\w+"), "AdaptiveSparkPlan"),
        (re.compile(r"codegen id : \d+"), "codegen id : _"),
        (re.compile(r"^Arguments: \d+$", re.M), "Arguments: _")]


def norm(path):
    out = []
    for line in open(path, encoding="utf-8"):
        for rx, rep in MASK:
            line = rx.sub(rep, line)
        out.append(line)
    return out


def main():
    da, sa, db, sb = sys.argv[1:5]
    bad = 0
    for q in sys.argv[5:]:
        a = norm(f"{da}/{q}_{sa}.txt")
        b = norm(f"{db}/{q}_{sb}.txt")
        if a == b:
            print(f"{q}: identical")
        else:
            bad += 1
            print(f"{q}: DIFFERENT")
            sys.stdout.writelines(difflib.unified_diff(a, b, sa, sb, n=1))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
