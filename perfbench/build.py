#!/usr/bin/env python3
"""Compiles the engine sources plus the benchmark harness into
`.bench_build/perfbench/classes` with the Scala compiler that ships in
Spark's jar directory, skipping the compile when no source changed.

Usage (from the repository root): python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys

BUILD = os.path.join(".bench_build", "perfbench")
CLASSES = os.path.join(BUILD, "classes")
SOURCE_ROOTS = [os.path.join("src", "main", "scala"), os.path.join("perfbench", "src")]
RESOURCES = os.path.join("src", "main", "resources")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        raise SystemExit("perfbench: no Spark installation found (set SPARK_HOME)")
    return sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))


def sources():
    out = []
    for root in SOURCE_ROOTS:
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def classpath():
    return os.pathsep.join([os.path.abspath(CLASSES)] + spark_jars())


def build():
    srcs = sources()
    if not any(s.startswith(SOURCE_ROOTS[0]) for s in srcs):
        raise SystemExit("perfbench: engine sources not found under src/main/scala")
    jars = spark_jars()
    digest = hashlib.sha256()
    for p in srcs + jars:
        digest.update(p.encode())
        if p.endswith(".scala"):
            with open(p, "rb") as f:
                digest.update(f.read())
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.pathsep.join(jars)
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", CLASSES, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, CLASSES, dirs_exist_ok=True)
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())


if __name__ == "__main__":
    build()
