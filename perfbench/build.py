#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's main sources and the
benchmark's own Scala sources with the Scala compiler that ships with Spark.

    python3 perfbench/build.py            # from the root of a checkout

Classes go to .bench_build/classes. A stamp holding the hash of every source
file skips the compile when nothing changed. The Spark installation is found
through SPARK_HOME, else through `spark-submit` on PATH.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")
SOURCE_DIRS = ["src/main/scala", "perfbench/src"]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("build: no SPARK_HOME and no spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        sys.exit(f"build: no jars directory under {home}")
    return jars


def sources():
    files = []
    for d in SOURCE_DIRS:
        files += glob.glob(os.path.join(ROOT, d, "**", "*.scala"), recursive=True)
    return sorted(files)


def classpath():
    """Runtime classpath: the compiled classes, then every Spark jar."""
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    files = sources()
    main = [f for f in files if f.startswith(os.path.join(ROOT, "src"))]
    if not main:
        sys.exit("build: no program sources under src/main/scala")
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    stamp = digest.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", CLASSES, "@" + argfile]
    res = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr)
    if res.returncode != 0:
        sys.exit(f"build: scalac failed with code {res.returncode}")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


if __name__ == "__main__":
    build()
