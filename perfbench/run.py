#!/usr/bin/env python3
"""Runs one perfbench workload.

    python3 perfbench/run.py --workload extract_write --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Compiles graft and the benchmark first when a source has changed (see
build.py), then runs one JVM with a fixed heap. The JVM prints the metrics;
the last stdout line is the result object. Run from the repository root.
"""
import argparse
import os
import subprocess
import sys

sys.dont_write_bytecode = True  # leave nothing beside the sources
from build import HERE, ROOT, WORK, BuildError, build

WORKLOADS = ("extract_write", "sql_extract_small")
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these module opens.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="show the output check failing on a corrupted and on a missing row")
    a = ap.parse_args()
    if not a.self_test and a.workload is None:
        ap.error("--workload is required")

    try:
        cp = build()
    except BuildError as e:
        fail(str(e))
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    heap = "2g"
    # A fixed, pre-touched heap and the throughput collector, as graft's own
    # build runs Spark. C2 only (no tiered compilation): with tiered
    # compilation the JIT was still recompiling after 25 s of calls, and
    # extract_write's docs_per_s spread 0.23 (quartile distance / median)
    # over nine seeds on a 4-vCPU host, against 0.10 without it.
    # No perf-data file, so nothing is written outside the checkout.
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
           "-XX:-TieredCompilation", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={WORK / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-cp", cp, "perfbench.Main", "--work", str(WORK)]
    if a.self_test:
        cmd.append("--self-test")
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(WORK / "spark-local"))
    sys.stdout.flush()
    try:
        code = subprocess.run(cmd, cwd=ROOT, env=env, timeout=RUN_TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        fail(f"run timed out after {RUN_TIMEOUT_S} s")
    sys.exit(code)


if __name__ == "__main__":
    main()
