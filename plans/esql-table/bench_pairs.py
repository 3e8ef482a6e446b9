#!/usr/bin/env python3
"""Run alternating parent/change pairs of perfbench and summarize them.

Usage:
    python3 plans/esql-table/bench_pairs.py run <parentDir> <changeDir> <out.json> [pairs]
    python3 plans/esql-table/bench_pairs.py summary <out.json>

`run` runs `python3 perfbench/run.py --workload <w> --seed <pair+1>
--seconds 1` (untraced) in each of two clean checkouts, for the
cell-wire and query-mix workloads, `pairs` pairs each (default 10). The
parent runs first in even pairs and second in odd ones. Each run's
result line (the last JSON line on stdout) is kept with its exit code
and wall time. `summary` prints, per workload and end-to-end metric,
the parent and change medians, the parent's interquartile range and
the number of pairs the change won.
"""
import json
import statistics
import subprocess
import sys
import time

WORKLOADS = ("cell-wire", "query-mix")
METRICS = (("setup_s", "lower"), ("initial_s", "lower"),
           ("work_s.p50", "lower"), ("throughput_per_s", "higher"))


def run_one(cwd, workload, seed):
    t0 = time.time()
    p = subprocess.run(
        ["python3", "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1"],
        cwd=cwd, capture_output=True, text=True)
    result = None
    for line in reversed(p.stdout.splitlines()):
        if line.startswith("{") and line.endswith("}"):
            result = json.loads(line)
            break
    return p.returncode, round(time.time() - t0, 1), result


def run(parent, change, out, pairs):
    doc = {"about": "perfbench/run.py --seconds 1 (untraced), parent vs "
                    "change, each from its own clean checkout, alternating "
                    "order per pair (pair 0 parent first), seed = pair + 1. "
                    "result = the run's result line. No gain is claimed."}
    for w in WORKLOADS:
        rows = doc.setdefault(w.replace("-", "_"), [])
        for i in range(pairs):
            sides = [("parent", parent), ("change", change)]
            if i % 2:
                sides.reverse()
            for order, (side, cwd) in enumerate(sides):
                rc, wall, result = run_one(cwd, w, i + 1)
                rows.append({"pair": i, "seed": i + 1, "side": side,
                             "order": order, "rc": rc, "wall_s": wall,
                             "result": result})
                print(f"{w} pair {i} {side}: rc={rc} wall={wall}s "
                      f"correct={result and result.get('correct')}", flush=True)
                with open(out, "w") as fh:
                    json.dump(doc, fh, indent=1)


def quartiles(xs):
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def summary(path):
    doc = json.load(open(path))
    print("| workload | metric | parent | change | parent IQR | change better |")
    print("| --- | --- | --- | --- | --- | --- |")
    for w in WORKLOADS:
        rows = doc.get(w.replace("-", "_"), [])
        bad = [r for r in rows if r["rc"] != 0 or not r["result"]
               or not r["result"].get("correct") or r["result"].get("failed")]
        for m, better in METRICS:
            val = {}
            for r in rows:
                if r["result"]:
                    val[(r["pair"], r["side"])] = r["result"]["metrics"][m]["value"]
            pairs = sorted({p for p, _ in val})
            par = [val[(p, "parent")] for p in pairs if (p, "parent") in val]
            chg = [val[(p, "change")] for p in pairs if (p, "change") in val]
            wins = sum(1 for p in pairs
                       if (p, "parent") in val and (p, "change") in val and
                       (val[(p, "change")] < val[(p, "parent")] if better == "lower"
                        else val[(p, "change")] > val[(p, "parent")]))
            lo, hi = quartiles(par)
            print(f"| {w} | {m} | {statistics.median(par):.4g} | "
                  f"{statistics.median(chg):.4g} | {hi - lo:.3g} | "
                  f"{wins}/{len(pairs)} |")
        print(f"<!-- {w}: {len(rows)} runs, {len(bad)} incorrect or failed -->")


if __name__ == "__main__":
    if sys.argv[1] == "run":
        run(sys.argv[2], sys.argv[3], sys.argv[4],
            int(sys.argv[5]) if len(sys.argv) > 5 else 10)
    else:
        summary(sys.argv[2])
