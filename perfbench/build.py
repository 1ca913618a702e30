#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine sources
(`src/main/scala`) together with the benchmark's own sources
(`perfbench/src`) into `.bench_build/perfbench/classes` with the Scala
compiler that ships in Spark's jar directory.

Usage (from the repository root): python3 perfbench/build.py

The build is skipped when a stamp of every source file's content matches
the previous build. Exit code is non-zero when the engine sources are
missing or the compiler fails.
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: set SPARK_HOME to a Spark 4 installation")
    return os.path.join(home, "jars")


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def sources():
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(log=sys.stderr):
    if not os.path.isdir(ENGINE_SRC) or not os.path.isdir(BENCH_SRC):
        raise SystemExit(
            "perfbench: engine sources not found under src/main/scala; "
            "run from the repository root")
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    if os.path.exists(STAMP):
        os.remove(STAMP)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp",
           os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", CLASSES] + srcs
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    with open(STAMP, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    build()
