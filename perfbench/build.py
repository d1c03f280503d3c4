#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src and
perfbench/tests) with the Scala compiler that ships among the project's
Spark jars, the directory build.sbt names as `unmanagedBase`.

Output goes to .bench_build/perfbench/classes-<hash of the sources>; an
up-to-date build is reused. Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """The jar directory the project builds against (build.sbt's unmanagedBase)."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.exists(sbt):
        raise SystemExit("no build.sbt: run from the root of a checkout of the repository")
    with open(sbt) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def sources():
    found = []
    for base in ("src/main/scala", "perfbench/src", "perfbench/tests"):
        found += glob.glob(os.path.join(ROOT, base, "**", "*.scala"), recursive=True)
    return sorted(found)


def build():
    """Returns the classes directory, compiling it first if needed."""
    jars = spark_jars()
    srcs = sources()
    if not any("/src/main/scala/" in s for s in srcs):
        raise SystemExit("no program sources under src/main/scala")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    classes = os.path.join(OUT, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".ok")):
        return classes
    os.makedirs(OUT, exist_ok=True)
    for old in glob.glob(os.path.join(OUT, "classes-*")):
        shutil.rmtree(old)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    os.rename(tmp, classes)
    open(os.path.join(classes, ".ok"), "w").close()
    return classes


if __name__ == "__main__":
    print(build())
