#!/usr/bin/env python3
"""Re-records perfbench/expected_digests.tsv from the current program.

Run this only from a commit whose outputs on the snapshot pass the DuckDB
oracle gate (graft.Verify on the snapshot directory, then tools/check.py);
the digests are the reference the benchmark checks every later commit
against. Usage: python3 perfbench/record_digests.py
"""
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

if __name__ == "__main__":
    run_dir = os.path.join(run.OUT, "runs", "record")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        code, _ = run.java("perfbench.Record", [
            run.DATA, os.path.join(run_dir, "work"),
            os.path.join(run.HERE, "expected_digests.tsv")], run_dir, timeout=600)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    sys.exit(code)
