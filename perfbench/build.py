#!/usr/bin/env python3
"""Builds the benchmark: compiles graft's main sources together with the
benchmark's own sources into perfbench/work/classes.

    python3 perfbench/build.py

graft depends only on Spark, so the build needs nothing but a JDK and a
Spark 4 install (SPARK_HOME): Spark's jars carry the Scala 2.13 compiler
graft is written for. Nothing is downloaded and nothing is written outside
perfbench/work. The build is skipped when no source has changed since the
last one. Run from the repository root.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "work"
CLASSES = WORK / "classes"
STAMP = WORK / "build.stamp"
PROGRAM_SOURCES = ROOT / "src" / "main" / "scala"
BUILD_TIMEOUT_S = 800


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("SPARK_HOME must name a Spark 4 install")
    jars = sorted((Path(home) / "jars").glob("*.jar"))
    if not any(j.name.startswith("scala-compiler") for j in jars):
        raise BuildError(f"no Scala compiler among the jars of {home}")
    return jars


def sources():
    if not PROGRAM_SOURCES.is_dir():
        raise BuildError(f"graft's sources are not at {PROGRAM_SOURCES.relative_to(ROOT)}; "
                         "run from a full checkout")
    return sorted(PROGRAM_SOURCES.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compiles if needed; returns the run classpath."""
    jars = spark_jars()
    files = sources()
    cp = os.pathsep.join([str(CLASSES)] + [str(j) for j in jars])
    want = stamp(files)
    if STAMP.exists() and STAMP.read_text() == want and CLASSES.is_dir():
        return cp
    print("perfbench: compiling graft and the benchmark", file=sys.stderr)
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    STAMP.unlink(missing_ok=True)
    jar_cp = os.pathsep.join(str(j) for j in jars)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jar_cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", str(CLASSES), "-classpath", jar_cp, *[str(f) for f in files]]
    try:
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BuildError(f"compilation timed out after {BUILD_TIMEOUT_S} s")
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise BuildError("compilation failed")
    STAMP.write_text(want)
    return cp


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
