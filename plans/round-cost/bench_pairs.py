#!/usr/bin/env python3
"""Run alternating parent/change pairs of perfbench and summarize them.

Usage:
    python3 plans/round-cost/bench_pairs.py run <parentDir> <changeDir> <out.json> \
        <workload> <firstSeed> <pairs> [trace]
    python3 plans/round-cost/bench_pairs.py summary <out.json>

`run` runs `python3 perfbench/run.py --workload <workload> --seed <s>
--seconds 1 --trace <trace>` (trace defaults to 0) in each of two clean
checkouts, seeds firstSeed .. firstSeed + pairs - 1, one pair per seed.
The parent runs first in even pairs and second in odd ones. Each run's
result line (the last JSON line on stdout) is kept with its exit code and
wall time, under the key `<workload>` (`<workload>_traced` for traced
runs) of out.json, which may already hold other workloads. A traced run
also keeps its summary lines (`[perfbench] name value unit`).

`summary` prints, per untraced workload and end-to-end metric, the
parent and change medians and quartiles and the number of pairs the
change won, and per traced workload each side's per-layer values.
"""
import json
import os
import statistics
import subprocess
import sys
import time

METRICS = (("setup_s", "lower"), ("initial_s", "lower"),
           ("work_s.p50", "lower"), ("throughput_per_s", "higher"))


def run_one(cwd, workload, seed, trace):
    t0 = time.time()
    p = subprocess.run(
        ["python3", "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True)
    result = None
    for line in reversed(p.stdout.splitlines()):
        if line.startswith("{") and line.endswith("}"):
            result = json.loads(line)
            break
    summary = [l for l in p.stdout.splitlines() if l.startswith("[perfbench]")]
    return p.returncode, round(time.time() - t0, 1), result, summary


def run(parent, change, out, workload, first, pairs, trace):
    doc = json.load(open(out)) if os.path.exists(out) else {}
    key = workload.replace("-", "_") + ("_traced" if trace else "")
    rows = doc.setdefault(key, [])
    for i in range(pairs):
        seed = first + i
        sides = [("parent", parent), ("change", change)]
        if i % 2:
            sides.reverse()
        for order, (side, cwd) in enumerate(sides):
            rc, wall, result, summary = run_one(cwd, workload, seed, trace)
            row = {"pair": i, "seed": seed, "side": side, "order": order,
                   "rc": rc, "wall_s": wall, "result": result}
            if trace:
                row["summary"] = summary
            rows.append(row)
            print(f"{key} pair {i} seed {seed} {side}: rc={rc} wall={wall}s "
                  f"correct={result and result.get('correct')}", flush=True)
            with open(out, "w") as fh:
                json.dump(doc, fh, indent=1)


def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def value(row, metric):
    m = (row["result"] or {}).get("metrics", {}).get(metric)
    return m and m["value"]


def summary(path):
    doc = json.load(open(path))
    for key, rows in doc.items():
        if not isinstance(rows, list):
            continue
        bad = [r for r in rows if r["rc"] != 0 or not r["result"]
               or not r["result"].get("correct") or r["result"].get("failed")]
        print(f"## {key}: {len(rows)} runs, {len(bad)} failed or incorrect")
        if key.endswith("_traced"):
            names = sorted({n for r in rows for n in (r["result"] or {}).get("metrics", {})})
            print("| metric | parent runs | change runs |")
            print("| --- | --- | --- |")
            for n in names:
                vals = {s: [round(value(r, n), 3) for r in rows
                            if r["side"] == s and value(r, n) is not None]
                        for s in ("parent", "change")}
                print(f"| {n} | {vals['parent']} | {vals['change']} |")
            continue
        print("| metric | parent median [q1, q3] | change median [q1, q3] | "
              "parent IQR | change better |")
        print("| --- | --- | --- | --- | --- |")
        for m, better in METRICS:
            by_pair = {}
            for r in rows:
                v = value(r, m)
                if v is not None:
                    by_pair.setdefault(r["pair"], {})[r["side"]] = v
            pairs = [p for p in by_pair.values() if len(p) == 2]
            if not pairs:
                continue
            par = [p["parent"] for p in pairs]
            chg = [p["change"] for p in pairs]
            pq, cq = quartiles(par), quartiles(chg)
            won = sum(1 for p in pairs if (p["change"] < p["parent"]) ==
                      (better == "lower") and p["change"] != p["parent"])
            print(f"| {m} | {statistics.median(par):.4g} [{pq[0]:.4g}, {pq[1]:.4g}] | "
                  f"{statistics.median(chg):.4g} [{cq[0]:.4g}, {cq[1]:.4g}] | "
                  f"{pq[1] - pq[0]:.4g} | {won}/{len(pairs)} |")


if __name__ == "__main__":
    if sys.argv[1] == "run":
        run(sys.argv[2], sys.argv[3], sys.argv[4], sys.argv[5],
            int(sys.argv[6]), int(sys.argv[7]),
            int(sys.argv[8]) if len(sys.argv) > 8 else 0)
    else:
        summary(sys.argv[2])
