#!/usr/bin/env python3
"""graft pipeline benchmark: one seeded run of one workload.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload graph_assets|corpus_dedup|tx_writes \
      --seed N --seconds S --trace 0|1

Builds the engine (src/main/scala) and the benchmark driver
(perfbench/src) with the Scala compiler that ships in the Spark
distribution, into .bench_build/, and reuses that build while the sources
are unchanged. Then it starts one JVM running Spark as local[4], which
sets up the seeded inputs, runs the workload's iteration in a closed loop
for S seconds and checks every output. graph_assets outputs are also
checked against the DuckDB oracles of gates g2/g4/g5/g6, here, off the
clock. The last line of stdout is the result JSON; with --trace 0 it
holds the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer ones. Each iteration also prints a `sample` line with its
host-noise readings (steal %, load, GC time, timestamps, contamination
flag).
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
SCALA = "2.13.17"


def spark_jars():
    """The jars of $SPARK_HOME, else of the first Spark install holding a
    spark-submit on the PATH, that ships the Scala compiler."""
    path = os.environ.get("PATH", "").split(os.pathsep)
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in path if os.path.exists(os.path.join(d, "spark-submit"))]
    for h in homes:
        if h and os.path.exists(os.path.join(h, "jars", f"scala-compiler-{SCALA}.jar")):
            return os.path.join(h, "jars")
    return ""


SPARK_JARS = spark_jars()
RUN_TIMEOUT_S = 170
# corpus_dedup runs on request only: BENCHMARK.json leaves it out so that a
# full comparison (22 runs per listed workload) fits its time budget
WORKLOADS = ("graph_assets", "tx_writes", "corpus_dedup")


def die(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    out = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def build():
    """Compile engine + driver once per source state; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("no engine sources (src/main/scala) under the working directory")
    compiler = [os.path.join(SPARK_JARS, f"scala-{m}-{SCALA}.jar")
                for m in ("compiler", "library", "reflect")]
    if not SPARK_JARS or not all(os.path.exists(j) for j in compiler):
        die(f"no Spark install with the Scala {SCALA} compiler jars "
            "($SPARK_HOME, or spark-submit on the PATH)")
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    resources = os.path.join(ROOT, "src", "main", "resources")
    jars = sorted(os.path.join(SPARK_JARS, j) for j in os.listdir(SPARK_JARS)
                  if j.endswith(".jar"))
    cp = ":".join([classes, resources] + jars)
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(BUILD, "stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return cp
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        t0 = time.time()
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
             "scala.tools.nsc.Main", "-nowarn", "-d", classes,
             "-classpath", ":".join(jars)] + [p for p in srcs if p.endswith(".scala")],
            stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            die("build failed")
        print(f"[perfbench] built in {time.time() - t0:.1f}s", file=sys.stderr)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return cp


JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def run_jvm(cp, args, work):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java"] + JVM_OPENS +
           ["-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Dderby.system.home={work}",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--drop-row", "1" if args.drop_row else "0",
            "--launched-ms", str(int(time.time() * 1000))])
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                         cwd=work)
    deadline = time.time() + RUN_TIMEOUT_S
    try:
        for line in p.stdout:
            if line.startswith("sample "):
                print(line.rstrip(), flush=True)
            if time.time() > deadline:
                raise TimeoutError
        p.wait(timeout=max(1, deadline - time.time()))
    except (TimeoutError, subprocess.TimeoutExpired):
        p.kill()
        p.wait()
        die(f"JVM run exceeded {RUN_TIMEOUT_S}s")
    if p.returncode != 0:
        die(f"JVM run failed with exit code {p.returncode}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def oracle_check(oracle):
    """DuckDB oracles of g2/g4/g5/g6 over the staged inputs, compared the
    way tools/check.py compares a Verify dump (its own canon())."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check import canon
    con = duckdb.connect(config={"memory_limit": "1GB", "threads": 2})
    for t in ("customer", "supplier", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{oracle['__inputs']}/{t}.parquet/*.parquet')")
    errors = []
    gates = sorted(k for k in oracle if not k.startswith("__"))
    for g in gates:
        d = os.path.join(oracle["__outputs"], g)
        files = [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")]
        got = canon(pd.concat([pd.read_parquet(f) for f in files]))
        # materialized CTEs: an execution hint that leaves the result
        # unchanged; inlined, the unrolled g4 CTE chain outgrows memory
        sql = re.sub(r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (", oracle[g])
        want = canon(con.execute(sql).fetchdf())
        if list(got.columns) != list(want.columns) or len(got) != len(want) or \
                not got.astype(str).equals(want.astype(str)):
            errors.append(f"{g}: spark output ({len(got)} rows) differs from the DuckDB oracle "
                          f"({len(want)} rows)")
    return len(gates), errors


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    # self-check hook: drop one output row before the checks
    ap.add_argument("--drop-row", action="store_true")
    args = ap.parse_args()
    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_json):
        die("BENCHMARK.json not found in the working directory")
    spec = json.load(open(bench_json))
    if args.workload not in WORKLOADS:
        die(f"unknown workload {args.workload}")
    cp = build()
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        res = run_jvm(cp, args, work)
        attempted, failed, errors = res["attempted"], res["failed"], list(res["errors"])
        if res["oracle"]:
            n, errs = oracle_check(res["oracle"])
            attempted += n
            failed += len(errs)
            errors += errs
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for e in errors:
        print(f"[perfbench] {e}", file=sys.stderr)
    key, source = ("per_layer", res["per_layer"]) if args.trace else ("end_to_end", res["e2e"])
    metrics = {}
    for m in spec[key]:
        v = source.get(m["name"])
        if v is None and args.trace == 0:
            die(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": float(v or 0.0), "unit": m["unit"]}
    print(f"[perfbench] input digest {res['input_digest']}", file=sys.stderr)
    print(f"[perfbench] {res['iterations']} iterations, "
          f"{res['contaminated_samples']} flagged contaminated", file=sys.stderr)
    print(json.dumps({"correct": bool(res["correct"]) and failed == 0,
                      "attempted": int(attempted), "failed": int(failed),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
