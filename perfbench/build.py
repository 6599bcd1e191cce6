#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the program (src/main/scala) together with the benchmark harness
(perfbench/src) using the Scala compiler that ships among the Spark
distribution's jars, the same jars build.sbt compiles against. No sbt, no
dependency resolution: only the checkout is written, under .bench_build/.
The compile is skipped when neither the sources nor the jar set changed.

    python3 perfbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
SOURCE_DIRS = ["src/main/scala", "perfbench/src"]


def spark_jars():
    """The Spark jars: $SPARK_HOME/jars, else those of the installed pyspark
    package, which ships the same distribution."""
    home = os.environ.get("SPARK_HOME", "")
    if not home:
        try:
            import pyspark
            home = os.path.dirname(pyspark.__file__)
        except ImportError:
            pass
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
    if not jars:
        sys.exit("build: no Spark jars found; set SPARK_HOME to a Spark distribution")
    return jars


def sources():
    found = []
    for d in SOURCE_DIRS:
        for dirpath, _, files in os.walk(os.path.join(ROOT, d)):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def fingerprint(srcs, jars):
    h = hashlib.sha256()
    for path in srcs:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    for jar in jars:
        h.update(os.path.basename(jar).encode())
    return h.hexdigest()


def build():
    """Returns the classes directory, compiling first if it is stale."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit(f"build: program sources not found under {ROOT}/src/main/scala")
    jars, srcs = spark_jars(), sources()
    stamp = os.path.join(OUT, "classes.sha256")
    digest = fingerprint(srcs, jars)
    if os.path.isdir(CLASSES) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                return CLASSES
    fresh = CLASSES + ".new"
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main",
           "-nowarn", "-d", fresh, "-classpath", os.pathsep.join(jars)] + srcs
    print(f"build: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    if subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr).returncode != 0:
        sys.exit("build: compile failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(fresh, CLASSES)
    with open(stamp, "w") as f:
        f.write(digest + "\n")
    return CLASSES


if __name__ == "__main__":
    print(build())
