#!/usr/bin/env python3
"""Layered benchmark for the parse -> enrich -> route -> aggregate engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (offline) and caches the classpath under
perfbench/.build; later runs start the JVMs (perfbench.Main) directly.
Inputs are generated from the seed and staged under perfbench/.work/stage,
keyed by (workload, seed, size): route_noop's by a first JVM, with their
expected results; queries' by inputs.py. A second JVM measures. After a
queries run, its reference results are compared with the program's DuckDB
oracle SQL.

With --trace 0 the run measures the end-to-end metrics of BENCHMARK.json;
with --trace 1 it measures the per-layer metrics instead (spans written to
perfbench/.work/traces). The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; the lines before it are a
human-readable summary, including each workload's own throughput.
"""
import argparse
import datetime
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from decimal import Decimal

import inputs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(HERE, ".build")
# The input size each workload's staging is keyed by: conversations for
# route_noop, the tables' scale factor in thousandths for queries.
SIZES = {"route_noop": 20000, "queries": 10}
# Each run must finish within 180 s of its start, build excluded.
RUN_BUDGET_S = 170
BUILD_BUDGET_S = 800
JAVA_OPTS = [
    "-Xms3g", "-Xmx3g",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [
    arg
    for pkg in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
    )
    for arg in ("--add-opens", pkg + "=ALL-UNNAMED")
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, relative to the repository root."""
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src"):
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names]
    return sorted(files)


def run_group(cmd, deadline, **kw):
    """Runs `cmd` in its own process group until `deadline`; kills the whole
    group if it overruns. Returns (exit code, stdout)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} exceeded its time budget")
    return proc.returncode, out


def build():
    """Builds program and benchmark when their sources changed; returns the classpath."""
    digest = hashlib.sha256()
    for rel in source_files():
        digest.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    stamp = digest.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()

    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        time.monotonic() + BUILD_BUDGET_S, cwd=HERE, env=env, stderr=sys.stderr)
    lines = [l for l in out.splitlines() if l.strip()]
    sys.stderr.write("\n".join(lines[-20:-1]) + "\n")
    if code != 0 or not lines or lines[-1].startswith("["):
        fail(f"build failed (sbt exit {code})")
    classpath = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def run_jvm(classpath, args, deadline):
    """Runs perfbench.Main; returns its PERFBENCH result, or None if it printed none."""
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    log_path = os.path.join(WORK, "jvm.log")
    cmd = ["java"] + JAVA_OPTS + [
        "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
        "-Dspark.local.dir=" + os.path.join(WORK, "spark-local"),
        "-cp", classpath, "perfbench.Main"] + args
    with open(log_path, "w") as log:
        code, out = run_group(cmd, deadline, cwd=WORK, stderr=log)
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"JVM exited with {code}")
    for line in reversed(out.splitlines()):
        if line.startswith("PERFBENCH "):
            return json.loads(line[len("PERFBENCH "):])
    return None


def oracle_compare(out, tables_dir):
    """Compares the reference results the queries workload dumped into
    `out` with `SparkEntry.oracleSql` run by DuckDB on the same tables, as
    `tools/check_oracle.py` does: columns sorted by name, rows compared as
    sorted multisets, floats at 9 decimals. A row without oracle SQL must
    not be empty. Returns (rows checked, names of rows that differ)."""
    import duckdb
    con = duckdb.connect()
    for name in os.listdir(tables_dir):
        con.sql(f"CREATE VIEW {name[:-len('.parquet')]} AS SELECT * FROM '{tables_dir}/{name}'")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)

    def norm(v):
        if isinstance(v, Decimal):
            return float(v)
        if isinstance(v, float):
            return round(v, 9)
        if isinstance(v, datetime.datetime):
            return v.isoformat()
        return v

    def rows(rel):
        cols = sorted(rel.columns)
        return cols, sorted(repr(tuple(norm(v) for v in r)) for r in rel.select(*cols).fetchall())

    names = sorted(n for n in os.listdir(out) if os.path.isdir(os.path.join(out, n)))
    failed = []
    for name in names:
        got = con.sql(f"SELECT * FROM '{out}/{name}/*.parquet'")
        if name in oracle:
            if rows(got) != rows(con.sql(oracle[name])):
                failed.append(name)
        elif got.aggregate("count(*)").fetchone()[0] == 0:
            failed.append(name)
    return len(names), failed


def stage(classpath, a, size, deadline):
    """Generates the seeded inputs once per (workload, seed, size): the
    queries workload's here, route_noop's (with their expected results) in
    a JVM. Returns the staging directory."""
    stage_dir = os.path.join(WORK, "stage", f"{a.workload}-{a.seed}-{size}")
    done = os.path.join(stage_dir, "staged")
    if not os.path.exists(done):
        shutil.rmtree(stage_dir, ignore_errors=True)
        os.makedirs(stage_dir)
        if a.workload == "queries":
            inputs.write_tables(tables_dir(stage_dir, size), 500, 500, a.seed)
            for f in range(2):
                inputs.write_log(os.path.join(stage_dir, "rawlogs", "logs", f"part-{f}.log"),
                                 4 << 20, a.seed * 1000 + f)
        else:
            run_jvm(classpath, ["--phase", "stage", "--workload", a.workload, "--size", str(size),
                                "--seed", str(a.seed), "--stage", stage_dir, "--work", WORK,
                                "--cores", str(cores())], deadline)
        open(done, "w").close()
    return stage_dir


def tables_dir(stage_dir, size):
    """The program sizes some queries rows by this directory's name."""
    return os.path.join(stage_dir, f"sf{size / 1000}")


def line(name, values, unit, note=""):
    """Prints the median, quartiles and sample count of `values`; returns the median."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    print(f"  {name:36s} {med:14.6g} {unit:8s} q1 {q1:.6g} q3 {q3:.6g} n={len(values)} {note}")
    return med


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.exists(spec_path)):
        fail("run from a checkout that holds the program's sources and BENCHMARK.json")
    with open(spec_path) as f:
        spec = json.load(f)

    classpath = build()
    t0 = time.monotonic()
    deadline = t0 + RUN_BUDGET_S
    size = SIZES[a.workload]
    stage_dir = stage(classpath, a, size, deadline)
    # write the staged files back now, not while the measured JVM runs
    os.sync()
    stage_s = time.monotonic() - t0
    r = run_jvm(classpath, ["--phase", "measure", "--workload", a.workload, "--size", str(size),
                            "--seed", str(a.seed), "--stage", stage_dir, "--work", WORK,
                            "--cores", str(cores()), "--seconds", str(a.seconds),
                            "--trace", str(a.trace)], deadline)
    if r is None:
        fail("JVM printed no result")
    attempted, failed = r["attempted"], r["failed"]
    oracle_failed = []
    if a.workload == "queries":
        checked, oracle_failed = oracle_compare(os.path.join(stage_dir, "oracle"),
                                                tables_dir(stage_dir, size))
        attempted += checked
        failed += len(oracle_failed)

    print(f"perfbench workload={a.workload} seed={a.seed} trace={a.trace} cores={cores()}")
    print(f"  {'setup_s':36s} {r['setup_s']:14.6g} s        "
          "(JVM start to first timed job: session start, bank compile, warm-up)")
    print(f"  {'stage_s':36s} {stage_s:14.6g} s        (staging: inputs and expected results; not set-up)")
    metrics = {}
    if a.trace:
        for m in spec["per_layer"]:
            if m["name"] not in r["layers"]:
                fail(f"per-layer metric {m['name']} was not measured")
            metrics[m["name"]] = {"value": line(m["name"], r["layers"][m["name"]], m["unit"]),
                                  "unit": m["unit"]}
    else:
        values = {"setup_s": r["setup_s"],
                  "job_s": line("job_s", r["job_s"], "s", "(wall time of one timed job)"),
                  "job_cpu_s": line("job_cpu_s", r["job_cpu_s"], "s", "(CPU time of the JVM during it)")}
        for key, v in r["named"].items():
            name, unit = key.split(" ")
            line(name, v, unit)
        for m in spec["end_to_end"]:
            metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
    print(f"  {'failed_frac':36s} {failed / attempted:14.6g} ratio    "
          f"({failed} failed of {attempted} attempted)")
    if oracle_failed:
        print(f"  differs from the DuckDB oracle: {' '.join(oracle_failed)}")
    for k, v in r["host"].items():
        print(f"  {'host.' + k:36s} {v:14.6g} s")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
