#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (perfbench/src) with scalac into one class directory.

The Spark jars come from where the program's own build takes them
(`unmanagedBase` in build.sbt, else $SPARK_HOME/jars); the Scala compiler is
the one shipped beside them, at the version build.sbt names. A stamp of every
source file's content makes a rebuild happen only when a source changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")
HARNESS_SRC = os.path.join(ROOT, "perfbench", "src")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


class BuildError(Exception):
    pass


def _build_sbt():
    path = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(path):
        raise BuildError("build.sbt not found: run from the repository root")
    with open(path) as f:
        return f.read()


def spark_jars():
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', _build_sbt())
    candidates = [m.group(1)] if m else []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    raise BuildError(f"no Spark jars found in {candidates}")


def _scala_jars(jars):
    m = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', _build_sbt())
    if not m:
        raise BuildError("build.sbt names no scalaVersion")
    v = m.group(1)
    names = [f"scala-{p}-{v}.jar" for p in ("compiler", "library", "reflect")]
    paths = [os.path.join(jars, n) for n in names]
    missing = [p for p in paths if not os.path.isfile(p)]
    if missing:
        raise BuildError(f"Scala {v} toolchain jars missing: {missing}")
    return paths


def sources():
    srcs = sorted(glob.glob(os.path.join(PROGRAM_SRC, "**", "*.scala"), recursive=True))
    if not srcs:
        raise BuildError(f"no program sources under {PROGRAM_SRC}")
    return srcs + sorted(glob.glob(os.path.join(HARNESS_SRC, "**", "*.scala"), recursive=True))


def classpath():
    """Runtime classpath: compiled classes, program resources, Spark jars."""
    return os.pathsep.join([CLASSES, RESOURCES, os.path.join(spark_jars(), "*")])


def build(log=sys.stderr):
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for s in srcs + [os.path.join(ROOT, "build.sbt")]:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    if os.path.isfile(STAMP) and open(STAMP).read() == stamp:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    if os.path.exists(STAMP):
        os.remove(STAMP)
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(_scala_jars(jars)), "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-cp", os.path.join(jars, "*")] + srcs
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with code {r.returncode}")
    with open(STAMP, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
