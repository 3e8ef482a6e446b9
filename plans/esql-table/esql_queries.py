#!/usr/bin/env python3
"""Print the names of the declared ES|QL queries (the keys of `Esql.defs`).

Usage: python3 plans/esql-table/esql_queries.py [path/to/Esql.scala]

Reads the `val defs ... = Map(` block and prints its `"name" ->` keys on
one line, space-separated, in declaration order — the argument list for
`graft.tools.MultiExplain` and `plans/oracle-fragments/plan_diff.py`.
"""
import re
import sys

path = sys.argv[1] if len(sys.argv) > 1 else "src/main/scala/graft/ops/Esql.scala"
src = open(path, encoding="utf-8").read()
start = src.index("val defs: Map[String, (SparkSession, String) => DataFrame] = Map(")
end = src.index("\n\n", start)
print(" ".join(re.findall(r'"(j\d+_\w+)" ->', src[start:end])))
