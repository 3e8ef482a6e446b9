#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle comparison.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [query ...]

For each query dir under <verifyOutDir>: load the Spark-written parquet,
run the matching oracle SQL (from oracle_sql.json) in DuckDB with cwd set
to <sfDir> (so relative 'table.parquet' references resolve), sort columns
by name, canonicalize values, and compare row-by-row. This mirrors the
driver's "sort columns by name before hashing values" contract; rows are
ALSO compared in sorted order so a result is only green if it is
deterministic regardless of row order.

Dev tool only — never shipped in the engine jar.
"""
import sys, os, json, math, atexit, shutil, signal, tempfile
import duckdb
import pyarrow.parquet as pq


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v)) + ".0"
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, bytes):
        return v.hex()
    s = str(v)
    # normalize timestamp reprs: pandas/pyarrow Timestamp vs datetime
    return s.replace("+00:00", "").rstrip()


def table_rows(cols_named):
    names = sorted(cols_named.keys())
    ncols = [cols_named[n] for n in names]
    nrows = len(ncols[0]) if ncols else 0
    rows = [tuple(canon(c[i]) for c in ncols) for i in range(nrows)]
    return names, sorted(rows)


def from_arrow(tbl):
    return {name: tbl.column(name).to_pylist() for name in tbl.column_names}


def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    with open(os.path.join(outdir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    # DuckDB spills to <cwd>/.tmp by default, and the data directory may
    # be read-only: spill to a fresh temp dir instead, removed at exit
    spill = tempfile.mkdtemp(prefix="check-duckdb-")
    atexit.register(shutil.rmtree, spill, True)
    # a spill can reach tens of GiB: a plain `kill` must clean it up too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    con.execute("SET temp_directory = '%s'" % spill.replace("'", "''"))
    os.chdir(sfdir)
    n_ok = n_bad = 0
    for name in sorted(oracle):
        if only and name not in only:
            continue
        sql = oracle[name]
        qdir = os.path.join(outdir, name)
        if not os.path.isdir(qdir):
            print(f"MISSING  {name}: no spark output dir")
            n_bad += 1
            continue
        try:
            spark_tbl = pq.read_table(qdir)
            s_names, s_rows = table_rows(from_arrow(spark_tbl))
        except Exception as e:
            print(f"ERROR    {name}: reading spark output: {e}")
            n_bad += 1
            continue
        try:
            duck_tbl = con.execute(sql).fetch_arrow_table()
            d_names, d_rows = table_rows(from_arrow(duck_tbl))
        except Exception as e:
            print(f"ERROR    {name}: oracle sql failed: {e}")
            n_bad += 1
            continue
        if s_names != d_names:
            print(f"SCHEMA   {name}: spark={s_names} duck={d_names}")
            n_bad += 1
            continue
        # arrow-level type comparison (normalize timestamp tz/unit noise)
        def tnorm(t):
            import re as _re
            s = str(t)
            if s.startswith("timestamp"):
                return "timestamp"
            if s in ("large_string", "string"):
                return "string"
            # strip arrow list child field names ("item:", "l:", "element:")
            # and nullability — only the element type is semantic
            s = _re.sub(r"list<[a-zA-Z_]+: ", "list<", s).replace(" not null", "")
            return s
        s_types = {f.name: tnorm(f.type) for f in spark_tbl.schema}
        d_types = {f.name: tnorm(f.type) for f in duck_tbl.schema}
        mism = {k: (s_types[k], d_types[k]) for k in s_types if s_types[k] != d_types[k]}
        if mism:
            print(f"TYPES    {name}: {mism}")
            n_bad += 1
            continue
        if len(s_rows) != len(d_rows):
            print(f"ROWCOUNT {name}: spark={len(s_rows)} duck={len(d_rows)}")
            n_bad += 1
            continue
        if len(s_rows) == 0:
            print(f"EMPTY    {name}: 0 rows — vacuous, fix the query")
            n_bad += 1
            continue
        diff = [(i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b]
        if diff:
            i, a, b = diff[0]
            print(f"VALUES   {name}: {len(diff)}/{len(s_rows)} rows differ; first at {i}:")
            print(f"  cols : {s_names}")
            print(f"  spark: {a}")
            print(f"  duck : {b}")
            n_bad += 1
        else:
            print(f"OK       {name} ({len(s_rows)} rows)")
            n_ok += 1
    print(f"\n{n_ok} ok, {n_bad} bad")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
