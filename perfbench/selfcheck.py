#!/usr/bin/env python3
"""Self-checks of the benchmark itself. Run from the root of a checkout:

  python3 perfbench/selfcheck.py [workload ...]

For each workload (default: those in BENCHMARK.json) it checks that
  - the same seed gives identical input digests;
  - a different seed gives different inputs, and every check still passes;
  - dropping one output row makes the workload's output check fail;
  - every metric BENCHMARK.json names is printed with its unit, untraced
    (end_to_end) and traced (per_layer);
and, once, that in a directory holding only BENCHMARK.json and the
benchmark's own files the benchmark exits non-zero without a result.
Each benchmark run here uses --seconds 1, which still makes the
workload's minimum number of warm iterations.
"""
import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
failures = []


def run(workload, seed, trace=0, drop_row=False, cwd=ROOT):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", "1", "--trace", str(trace)]
    if drop_row:
        cmd.append("--drop-row")
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    result = None
    if lines and lines[-1].startswith("{"):
        result = json.loads(lines[-1])
    digest = next((l.split("input digest ", 1)[1] for l in p.stderr.splitlines()
                   if "input digest " in l), None)
    return p.returncode, result, digest


def expect(ok, what):
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        failures.append(what)


def metrics_ok(result, key):
    want = {m["name"]: m["unit"] for m in SPEC[key]}
    got = (result or {}).get("metrics", {})
    return set(got) == set(want) and all(got[n]["unit"] == u for n, u in want.items())


def check_workload(w):
    rc1, r1, d1 = run(w, 1)
    rc2, r2, d2 = run(w, 1)
    rc3, r3, d3 = run(w, 2)
    expect(rc1 == 0 and r1 and r1["correct"] and r1["failed"] == 0, f"{w}: seed 1 passes its checks")
    expect(d1 is not None and d1 == d2, f"{w}: same seed, identical input digests")
    expect(d3 is not None and d3 != d1, f"{w}: different seed, different inputs")
    expect(rc3 == 0 and r3 and r3["correct"] and r3["failed"] == 0, f"{w}: seed 2 passes its checks")
    expect(metrics_ok(r1, "end_to_end"), f"{w}: every end_to_end metric printed with its unit")
    rc4, r4, _ = run(w, 1, drop_row=True)
    expect(rc4 == 0 and r4 and not r4["correct"] and r4["failed"] > 0,
           f"{w}: dropping one output row fails the check")
    rc5, r5, _ = run(w, 1, trace=1)
    expect(rc5 == 0 and r5 and r5["correct"] and metrics_ok(r5, "per_layer"),
           f"{w}: traced run passes and prints every per_layer metric with its unit")


def check_empty_dir():
    empty = os.path.join(ROOT, ".bench_build", "selfcheck_empty")
    shutil.rmtree(empty, ignore_errors=True)
    os.makedirs(empty)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), empty)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(empty, p))
    w = SPEC["workloads"][0]["name"]
    rc, result, _ = run(w, 1, cwd=empty)
    shutil.rmtree(empty, ignore_errors=True)
    expect(rc != 0 and result is None, "a directory with only the benchmark exits non-zero, no result")


def main():
    check_empty_dir()
    for w in sys.argv[1:] or [w["name"] for w in SPEC["workloads"]]:
        check_workload(w)
    print(f"== {len(failures)} self-check failure(s) ==")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
