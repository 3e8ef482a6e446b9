#!/bin/sh
# Hand-written token reading in the ES|QL compiler, counted by grep.
# Usage: sh plans/esql-table/grep_counts.sh [path/to/Esql.scala]
F=${1:-src/main/scala/graft/ops/Esql.scala}
n() { grep -o -- "$1" "$F" | wc -l | tr -d ' '; }
echo "lines                                 $(wc -l < "$F" | tr -d ' ')"
echo "orExpr(c); c.expect                   $(n 'orExpr(c); c.expect')"
echo "one-line unary cases (old form)       $(grep -cE '=> val a = orExpr\(c\); c.expect\("\)"\);' "$F")"
echo "variadic-argument loops               $(n 'while (c.peek.contains(",")) { c.eat(); args += orExpr(c) }')"
echo 'startsWith("\"")                      '"$(n 'startsWith("\\"")')"
echo 'matches("""\d+""")                    '"$(n 'matches("""\\d+""")')"
echo "matches(identRe)                      $(n 'matches(identRe)')"
echo "equalsIgnoreCase                      $(n 'equalsIgnoreCase')"
echo "unparsed ES|QL tokens                 $(n 'unparsed ES|QL tokens')"
echo "def jN wrappers                       $(grep -cE '^  def j[0-9]+\(' "$F")"
echo "aggFns / scalarFns                    $(grep -cE 'aggFns|scalarFns' "$F")"
