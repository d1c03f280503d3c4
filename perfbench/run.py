#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <caa_flights|warm_queries>
                             --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source (perfbench/build.py),
then runs one workload in a fresh JVM with its own run directory for the
warehouse, Spark local and temp files, and prints the result as the last
line of standard output. Everything it writes stays under .bench_build/
in the checkout; the run directory is deleted afterwards. A traced run
also leaves its spans in .bench_build/perfbench/traces/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
OUT = build.OUT
HERE = os.path.join(ROOT, "perfbench")
# the read-only sf0.01 snapshot of the project's test data (TESTDATA.md)
DATA = os.path.join(HERE, "data", "sf0.01")
RUN_TIMEOUT_S = 170

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java(main, args, run_dir, timeout=RUN_TIMEOUT_S):
    """Runs `main` with the built classpath; returns (exit code, stdout lines)."""
    classes = build.build()
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    cmd = ["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        "-Xmx3g", "-Xss16m", "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
        "-Dspark.ui.enabled=false",
        "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
        main] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    with open(os.path.join(run_dir, "stderr.log"), "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, env=env,
                             text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            print(f"[perfbench] {main} exceeded {timeout} s", file=sys.stderr)
            return 124, []
    with open(os.path.join(run_dir, "stderr.log")) as f:
        for line in f:
            if line.startswith(("[perfbench]", "[selftest]")) or p.returncode != 0:
                sys.stderr.write(line)
    return p.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["caa_flights", "warm_queries"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    run_dir = os.path.join(OUT, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--data", DATA, "--work", os.path.join(run_dir, "work"),
            "--expected", os.path.join(HERE, "expected_digests.tsv")]
    if a.trace == "1":
        args += ["--trace-out", os.path.join(OUT, "traces", f"{a.workload}-seed{a.seed}.jsonl")]
    try:
        code, lines = java("perfbench.Main", args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if code != 0 or not lines:
        sys.exit(code or 1)
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    print(lines[-1])


if __name__ == "__main__":
    main()
