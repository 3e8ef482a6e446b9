#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

Usage (from the repository root):
    python3 perfbench/run.py --workload cell-wire --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Workloads: cell-wire, row-store, query-mix (see perfbench/README.md).

The first run compiles the engine's sources with the benchmark's own sbt
project (perfbench/build.sbt) and caches the classpath under
perfbench/target; later runs reuse it while the sources are unchanged.
Each run starts one JVM, prints a human-readable summary, and prints the
result line, one JSON object, last on stdout. query-mix results are then
compared against the DuckDB oracle by tools/check.py, outside the JVM.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data")
MAIN = "graft.perfbench.Main"
SELFTEST = "graft.perfbench.SelfTest"
WORKLOADS = ("cell-wire", "row-store", "query-mix")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jars the engine builds against: $SPARK_HOME/jars, else the
    directory the repository's own build.sbt names as its unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home:
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    return m.group(1) if m else ""


def source_files():
    """Every file the build reads: engine sources, the two protocol stubs,
    and the benchmark's own project."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "src", "test", "scala", "graft", f)
             for f in ("CqlStubServer.scala", "EsStubServer.scala")]
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile once per source state; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala/graft; "
             "run from the root of a full checkout")
    jars = spark_jars()
    if not os.path.isdir(jars):
        fail("no Spark jars: set SPARK_HOME to the Spark distribution the engine builds against")
    files = source_files()
    for f in files:
        if not os.path.isfile(f):
            fail(f"missing build input {f}")
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(TARGET, "perfbench-classpath.txt")
    stamp_file = os.path.join(TARGET, "perfbench-stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh2:
                    return fh2.read().strip()
    env = dict(os.environ)
    env["PERFBENCH_SPARK_JARS"] = jars
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    print("perfbench: compiling the engine (first run in this checkout)", file=sys.stderr)
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "scala-library" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1].strip()


def jvm(cp, main, args, log_path):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, main] + args)
    with open(log_path, "w") as log:
        try:
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"{main} ran past {JVM_TIMEOUT_S} s; log: {log_path}")
    if p.returncode != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail(f"{main} exited with {p.returncode}")
    return p.stdout


ORACLE_VERDICTS = ("MISSING", "ERROR", "SCHEMA", "TYPES", "ROWCOUNT", "EMPTY", "VALUES")


def oracle_check(check_dir, sf_dir):
    """Names of the queries whose Spark rows differ from DuckDB's, by the
    repository's own oracle comparison (tools/check.py)."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                        os.path.abspath(sf_dir), os.path.abspath(check_dir)],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       timeout=120)
    bad = []
    for line in p.stdout.splitlines():
        parts = line.split()
        if len(parts) >= 2 and parts[0] in ORACLE_VERDICTS:
            print(f"[perfbench] oracle: {line}", file=sys.stderr)
            bad.append(parts[1].rstrip(":"))
    if p.returncode != 0 and not bad:
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
        bad.append("tools/check.py")
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=os.cpu_count())
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    cp = build()
    os.makedirs(WORK, exist_ok=True)
    if a.selftest:
        out = jvm(cp, SELFTEST, [], os.path.join(WORK, "selftest.log"))
        sys.stdout.write(out)
        return

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    t0 = time.time()
    try:
        out = jvm(cp, MAIN, ["--workload", a.workload, "--seed", str(a.seed),
                             "--seconds", str(a.seconds), "--trace", str(a.trace),
                             "--work", run_dir, "--data", DATA, "--cores", str(a.cores)],
                  os.path.join(WORK, f"{a.workload}.log"))
        lines = out.splitlines()
        result = next((json.loads(l) for l in reversed(lines) if l.startswith("{")), None)
        if result is None:
            fail("the run printed no result line")
        for l in lines:
            if l.startswith("[perfbench]"):
                print(l)
        print(f"[perfbench] jvm_s={time.time() - t0:.1f}", file=sys.stderr)
        if a.workload == "query-mix":
            bad = oracle_check(os.path.join(run_dir, "check"), os.path.join(DATA, "sf0.01"))
            print(f"[perfbench] oracle mismatches: {len(bad)} {' '.join(bad)}")
            if bad:
                result["failed"] += len(bad)
                result["correct"] = False
        for f in os.listdir(run_dir):
            if f.startswith("trace-"):
                os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
                shutil.move(os.path.join(run_dir, f), os.path.join(WORK, "traces", f))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
