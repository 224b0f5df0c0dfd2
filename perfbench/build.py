#!/usr/bin/env python3
"""Compile the engine (src/main/scala) and the benchmark (perfbench/src)
into .bench_build/classes with the Scala compiler that ships in Spark's
jars ($SPARK_HOME/jars, the same jars build.sbt compiles against). The
build is skipped while a stamp of every source file matches.

    python3 perfbench/build.py      # from the root of a checkout
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def spark_home():
    """$SPARK_HOME, else the Spark installation whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise SystemExit("perfbench: set SPARK_HOME or put spark-submit on PATH")
    return home


SPARK_JARS = os.path.join(spark_home(), "jars")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/**/*.scala"), recursive=True))
    return engine + bench


def classpath():
    return os.path.join(SPARK_JARS, "*")


def build():
    """Compile if any source changed; return the runtime classpath."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp_path = os.path.join(BUILD, "classes.stamp")
    stamp = h.hexdigest()
    if os.path.exists(stamp_path) and open(stamp_path).read() == stamp:
        return CLASSES + os.pathsep + classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", classpath(),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES, "-classpath", classpath()] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    with open(stamp_path, "w") as fh:
        fh.write(stamp)
    return CLASSES + os.pathsep + classpath()


if __name__ == "__main__":
    build()
