#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark harness (perfbench/src) into .bench_build/classes with the Scala
compiler that ships in the Spark jars directory.

Usage: python3 perfbench/build.py   (from the repository root)

The build is skipped when a stamp of every source file matches the last
successful build. Exits non-zero when the program sources are missing or do
not compile."""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")


def spark_jars():
    """$SPARK_HOME/jars, else the jars directory the sbt build declares."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("build: set SPARK_HOME (no unmanagedBase in build.sbt)")
    return m.group(1)


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/**/*.scala"), recursive=True))
    return prog, bench


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(quiet=False):
    prog, bench = sources()
    if not prog or not os.path.exists(os.path.join(ROOT, "build.sbt")):
        sys.stderr.write("build: no program sources under src/main/scala\n")
        return 2
    files = prog + bench
    st = stamp(files)
    if os.path.exists(STAMP) and open(STAMP).read() == st:
        return 0
    # compile next to the live classes and swap, so a running JVM never sees
    # a half-written class directory
    tmp = CLASSES + ".new"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss16m", "-Xmx3g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + files
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-8000:])
        sys.stderr.write("build: compile failed\n")
        return 1
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(st)
    if not quiet:
        sys.stderr.write(f"build: compiled {len(files)} files\n")
    return 0


if __name__ == "__main__":
    sys.exit(build())
