#!/usr/bin/env python3
"""Count restated SQL in the oracle string literals of src/main/scala/graft/ops.

Usage: python3 plans/oracle-fragments/restated_spans.py [ops_dir] [--list]

Method: every Scala string literal ("..." or triple-quoted, with or without
an s/f interpolator) whose text holds SELECT, FROM or WITH is a SQL
literal. Its text is split into tokens: a single-quoted SQL literal is one
token, an interpolation ($name or ${...}) is one token, a word is one
token, any other non-blank character is one token; whitespace and the
stripMargin '|' at a line start are dropped. The literals are read in file
order (files sorted by name). A 50-token window is restated when the same
window already appeared earlier, in this or any earlier literal. Maximal
runs of overlapping restated windows form spans; a span covers the source
lines of its first to its last token. Prints the literal count, their
source lines, the span count and the source lines the spans cover.
"""
import os
import re
import sys

W = 50
SQL = re.compile(r"\b(SELECT|FROM|WITH)\b")


def interpolated(src, i):
    """Whether the literal opening at i has an s, f or raw interpolator."""
    m = re.search(r"(?<![\w$])(s|f|raw)$", src[max(0, i - 4):i])
    return m is not None


def literals(src):
    """Yield (text, start_line, is_interpolated) for each string literal."""
    i, n, line = 0, len(src), 1
    while i < n:
        c = src[i]
        if c == "\n":
            line += 1
            i += 1
        elif src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            j = src.find("*/", i + 2)
            j = n if j < 0 else j + 2
            line += src.count("\n", i, j)
            i = j
        elif src.startswith('"""', i):
            interp = interpolated(src, i)
            j = i + 3
            depth = 0
            while j < n:
                if interp and src.startswith("${", j):
                    depth += 1
                    j += 2
                    continue
                if depth and src[j] == "}":
                    depth -= 1
                elif depth and src.startswith('"""', j):
                    k = src.find('"""', j + 3)
                    j = k + 3
                    continue
                elif depth and src[j] == '"':
                    k = j + 1
                    while src[k] != '"':
                        k += 2 if src[k] == "\\" else 1
                    j = k + 1
                    continue
                elif not depth and src.startswith('"""', j):
                    while j + 3 < n and src[j + 3] == '"':
                        j += 1
                    break
                j += 1
            yield src[i + 3:j], line, interp
            line += src.count("\n", i, j + 3)
            i = j + 3
        elif c == '"':
            interp = interpolated(src, i)
            j = i + 1
            depth = 0
            while j < n:
                if interp and src.startswith("${", j):
                    depth += 1
                    j += 2
                    continue
                if depth and src[j] == "}":
                    depth -= 1
                elif src[j] == "\\":
                    j += 2
                    continue
                elif not depth and src[j] == '"':
                    break
                j += 1
            yield src[i + 1:j], line, interp
            i = j + 1
        elif c == "'" and i + 2 < n and (src[i + 2] == "'" or src[i + 1] == "\\"):
            j = src.find("'", i + 2 if src[i + 1] == "\\" else i + 1)
            i = j + 1
        else:
            i += 1


TOK = re.compile(r"'(?:[^']|'')*'|\$\{|\$[A-Za-z_]\w*|\w+|\S")


def tokens(text, line, interp):
    """Tokens of one literal as (token, source line)."""
    out = []
    i, n = 0, len(text)
    bol = True
    while i < n:
        c = text[i]
        if c == "\n":
            line += 1
            bol = True
            i += 1
            continue
        if c.isspace():
            i += 1
            continue
        if bol and c == "|":
            bol = False
            i += 1
            continue
        bol = False
        if interp and text.startswith("${", i):
            depth, j = 1, i + 2
            while depth:
                if text[j] == "{":
                    depth += 1
                elif text[j] == "}":
                    depth -= 1
                j += 1
            tok = text[i:j]
            out.append((re.sub(r"\s+", " ", tok), line))
            line += tok.count("\n")
            i = j
            continue
        m = TOK.match(text, i)
        tok = m.group(0)
        out.append((tok, line))
        line += tok.count("\n")
        i = m.end()
    return out


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    show = "--list" in sys.argv
    d = args[0] if args else "src/main/scala/graft/ops"
    seen = set()
    n_lits = lit_lines = n_spans = span_lines = 0
    for name in sorted(os.listdir(d)):
        if not name.endswith(".scala"):
            continue
        src = open(os.path.join(d, name), encoding="utf-8").read()
        for text, line, interp in literals(src):
            if not SQL.search(text):
                continue
            n_lits += 1
            lit_lines += text.count("\n") + 1
            toks = tokens(text, line, interp)
            words = [t for t, _ in toks]
            restated = []
            for k in range(len(words) - W + 1):
                key = tuple(words[k:k + W])
                restated.append(key in seen)
            for k in range(len(words) - W + 1):
                seen.add(tuple(words[k:k + W]))
            k = 0
            while k < len(restated):
                if not restated[k]:
                    k += 1
                    continue
                e = k
                while e + 1 < len(restated) and restated[e + 1]:
                    e += 1
                first, last = toks[k][1], toks[e + W - 1][1]
                n_spans += 1
                span_lines += last - first + 1
                if show:
                    print(f"{name}:{first}-{last} ({e - k + W} tokens)")
                k = e + 1
    print(f"sql_literals={n_lits} literal_lines={lit_lines} "
          f"restated_spans={n_spans} restated_lines={span_lines}")


if __name__ == "__main__":
    main()
