#!/usr/bin/env python3
"""The graft engine's benchmark: one run of one workload.

Usage (from the repository root):
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine and the harness from source (perfbench/build.py), then
runs graftbench.Main in a fresh working directory under .bench_work/ on a
local Spark session with one core per available CPU. The harness drives
one closed-loop client for S seconds against the sf0.1 fixtures in
perfbench/data/sf0.1 (read-only), checks every answer against its own
model, and writes its measurements. For the analytic workload this script
then compares each query's result with the query's DuckDB oracle
(SparkEntry.oracleSql) by running tools/check_oracle.py.

The last line of standard output is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end_to_end metric of BENCHMARK.json when --trace 0 and every
per_layer metric when --trace 1. The full record of the run (seed, cores,
Spark conf, heap, fixture directory, commit, errors, all metrics, the
latency of every timed call) goes to
.bench_out/<workload>-s<seed>-t<trace>.json, and the spans of a traced run
to the matching .spans.jsonl. Metric definitions: perfbench/METRICS.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

import build

ROOT = build.ROOT
SF_DIR = ROOT / "perfbench" / "data" / "sf0.1"
WORK = ROOT / ".bench_work"
RECORDS = ROOT / ".bench_out"
HEAP = "4g"
# every run, build excluded, must end within this many seconds
RUN_LIMIT_S = 170

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"benchmark failed: {msg}", file=sys.stderr)
    sys.exit(1)


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def oracle_check(results_dir, queries):
    """Compare each query's Spark result with its DuckDB oracle by running
    tools/check_oracle.py. Return how many of `queries` it did not pass,
    and its report of the failures."""
    r = subprocess.run([sys.executable, str(ROOT / "tools" / "check_oracle.py"),
                        str(SF_DIR), str(results_dir)],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = r.stdout.splitlines()
    passed = {l.split()[1] for l in lines if l.startswith("PASS ")}
    report = [l for l in lines if l.startswith("FAIL ")]
    if r.returncode != 0 and not report:
        report = [r.stdout[-300:]]
    return sum(q not in passed for q in queries), report


def run_jvm(cmd, cwd, log, limit):
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"the run did not finish within {limit:.0f} s")


def main():
    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.exists():
        fail(f"{spec_path} not found")
    spec = json.loads(spec_path.read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (SF_DIR / "orders.parquet").exists():
        fail(f"fixtures not found in {SF_DIR}")
    try:
        classpath = build.build()
    except build.BuildError as e:
        fail(f"build: {e}")
    started = time.monotonic()

    cores = len(os.sched_getaffinity(0))
    name = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = WORK / f"{name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = (["java", *ADD_OPENS, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-cp", classpath, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--sf", str(SF_DIR), "--cores", str(cores),
            "--out", str(work / "result.json")])
    log = work / "run.log"
    try:
        rc = run_jvm(cmd, work, log, RUN_LIMIT_S - (time.monotonic() - started))
        if rc != 0 or not (work / "result.json").exists():
            sys.stderr.write(log.read_text()[-4000:])
            fail(f"harness exited with code {rc}")
        res = json.loads((work / "result.json").read_text())
        attempted, failed = res["attempted"], res["failed"]
        errors = list(res["errors"])
        if res["oracle_queries"]:
            bad, report = oracle_check(work / "results", res["oracle_queries"])
            attempted += len(res["oracle_queries"])
            failed += bad
            errors += [f"oracle: {l}" for l in report]

        kind = "per_layer" if a.trace else "end_to_end"
        have = res["layers"] if a.trace else res["e2e"]
        want = {m["name"]: m["unit"] for m in spec[kind]}
        if set(have) != set(want):
            fail(f"{kind} metrics differ from BENCHMARK.json: "
                 f"missing {sorted(set(want) - set(have))}, "
                 f"extra {sorted(set(have) - set(want))}")
        metrics = {k: {"value": have[k], "unit": want[k]} for k in want}

        RECORDS.mkdir(exist_ok=True)
        record = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "cores": cores, "heap": HEAP,
            "heap_max_mb": res["heap_max_mb"], "sf_dir": str(SF_DIR),
            "commit": commit(), "source_stamp": build.stamp(
                build.scala_files(build.ENGINE_SRC)),
            "spark_version": res["spark_version"],
            "spark_conf": res["spark_conf"],
            "attempted": attempted, "failed": failed, "errors": errors,
            "e2e": res["e2e"], "layers": res["layers"], "samples_ms": res["samples"]}
        (RECORDS / f"{name}.json").write_text(json.dumps(record, indent=1))
        if (work / "spans.jsonl").exists():
            shutil.move(str(work / "spans.jsonl"), RECORDS / f"{name}.spans.jsonl")
        for e in errors[:10]:
            print(f"error: {e}", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
