#!/usr/bin/env python3
"""Self-tests of the benchmark.

1. perfbench.SelfTest (Scala): the answer key equals JobsMain output byte
   for byte on a small seed, for all five jobs, and one wrong expected
   value makes the run count failed ops.
2. Every workload of BENCHMARK.json, run traced for one second: no op
   fails, exec.unattributed_jobs is 0, the metric names are exactly the
   per_layer list, and the Spark jobs of q157, which runs its passes on a
   thread pool of its own, are attributed to the q157 ops in the trace,
   whose span ids are unique across the run's sessions.
   On warm_queries every step of the write lane ran, launched jobs and
   passed its digest check, and the lane wrote output.

Usage: python3 perfbench/tests/selftest.py
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import run  # noqa: E402


def fail(msg):
    print(f"[selftest] FAIL {msg}", file=sys.stderr)
    sys.exit(1)


def main():
    run_dir = os.path.join(run.OUT, "runs", "selftest")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        code, out = run.java("perfbench.SelfTest", [os.path.join(run_dir, "work")], run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0 or out[-1:] != ["selftest ok"]:
        fail("perfbench.SelfTest")

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    per_layer = [m["name"] for m in bench["per_layer"]]
    for w in (x["name"] for x in bench["workloads"]):
        p = subprocess.run([sys.executable, os.path.join(run.HERE, "run.py"), "--workload", w,
                            "--seed", "5", "--seconds", "1", "--trace", "1"],
                           capture_output=True, text=True)
        if p.returncode != 0:
            fail(f"{w}: exit {p.returncode}\n{p.stderr[-3000:]}")
        r = json.loads(p.stdout.splitlines()[-1])
        m = r["metrics"]
        if not r["correct"] or r["failed"] != 0:
            fail(f"{w}: {r['failed']} of {r['attempted']} ops failed\n{p.stderr[-3000:]}")
        if list(m) != per_layer:
            fail(f"{w}: metric names differ from BENCHMARK.json per_layer")
        if m["exec.unattributed_jobs"]["value"] != 0:
            fail(f"{w}: {m['exec.unattributed_jobs']['value']} unattributed jobs")
        if m["exec.jobs"]["value"] <= 0:
            fail(f"{w}: no jobs attributed")
        print(f"[selftest] ok   {w}: {r['attempted']} ops, 0 unattributed jobs, "
              f"tracing overhead {m['trace.overhead_pct']['value']:.1f} %", file=sys.stderr)
        if w == "warm_queries":
            lane = [n for n in per_layer if n.startswith("lane.") and n.endswith("_jobs")]
            idle = [n for n in lane if m[n]["value"] <= 0]
            if not lane or idle or m["exec.output_mb"]["value"] <= 0:
                fail(f"write lane: steps without jobs {idle}, "
                     f"exec.output_mb {m['exec.output_mb']['value']}")
            print(f"[selftest] ok   write lane: {len(lane)} steps, "
                  f"{m['exec.output_mb']['value']:.2f} MB written", file=sys.stderr)
            with open(os.path.join(run.OUT, "traces", f"{w}-seed5.jsonl")) as f:
                spans = [json.loads(line) for line in f]
            # job and stage ids restart in each of the run's sessions
            ids = {s["id"] for s in spans}
            if len(ids) != len(spans) or any(s["parent"] not in ids for s in spans
                                             if s["kind"] in ("stage", "task")):
                fail("trace: span ids repeat, or a stage or task has no parent span")
            q157 = {s["id"] for s in spans if s["kind"] == "op" and s["name"] == "q157"}
            jobs = [s for s in spans if s["kind"] == "job" and s["parent"] in q157]
            if not q157 or not jobs:
                fail("q157: no Spark jobs attributed to its ops")
            print(f"[selftest] ok   q157: {len(jobs)} jobs over {len(q157)} ops attributed",
                  file=sys.stderr)
    print("selftest ok")


if __name__ == "__main__":
    main()
