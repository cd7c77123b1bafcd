#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the repo's main sources and
the benchmark's own sources (perfbench/src) with the Scala compiler that
ships in Spark's jar directory, into .bench_build/classes.

Run from the repo root:  python3 perfbench/build.py
The build is skipped when the stamp (a hash of every input) is unchanged.
"""
import glob
import hashlib
import os
import subprocess
import sys
import time

SCALA_VERSION = "2.13.17"  # must match build.sbt's scalaVersion
BUILD_DIR = ".bench_build"
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "classes.stamp")


def spark_jars():
    """The jars of the Spark install at $SPARK_HOME, else of the first
    spark-submit on the PATH whose install ships the Scala compiler."""
    path_bins = [d for d in os.environ.get("PATH", "").split(os.pathsep)
                 if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in [os.environ.get("SPARK_HOME", "")] + [os.path.dirname(d) for d in path_bins]:
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if any(os.path.basename(j).startswith("scala-compiler-") for j in jars):
            return jars
    sys.exit("perfbench: no Spark install with the Scala compiler found; set SPARK_HOME")


def sources():
    found = []
    for root in ("src/main/scala", "perfbench/src"):
        if not os.path.isdir(root):
            sys.exit(f"perfbench: {root} not found; run from the repo root")
        found += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
    return sorted(found)


def classpath():
    return os.pathsep.join([CLASSES] + spark_jars())


def stamp(srcs):
    h = hashlib.sha256()
    for path in srcs + [__file__]:
        h.update(path.encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(timeout):
    """Compiles if any input changed. Returns the build wall time in seconds."""
    srcs = sources()
    want = stamp(srcs)
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return 0.0
    t0 = time.monotonic()
    if os.path.isdir(CLASSES):
        subprocess.run(["rm", "-rf", CLASSES], check=True)
    os.makedirs(CLASSES)
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).split("-" + SCALA_VERSION)[0]
                in ("scala-compiler", "scala-library", "scala-reflect")]
    if len(compiler) != 3:
        sys.exit(f"perfbench: Scala {SCALA_VERSION} compiler jars not found with Spark")
    args_file = os.path.join(BUILD_DIR, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(["-nowarn", "-d", CLASSES, "-classpath", os.pathsep.join(jars)] + srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-usejavacp", "@" + args_file]
    with open(os.path.join(BUILD_DIR, "build.log"), "w") as log:
        rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=timeout).returncode
    if rc != 0:
        sys.exit(f"perfbench: compile failed, see {BUILD_DIR}/build.log")
    with open(STAMP, "w") as f:
        f.write(want)
    return time.monotonic() - t0


if __name__ == "__main__":
    os.makedirs(BUILD_DIR, exist_ok=True)
    print(f"built in {build(timeout=900):.1f} s")
