"""Builds the benchmark: the library sources under src/main/scala plus the
benchmark's own sources under perfbench/src, compiled together with the
Scala compiler that ships in the Spark distribution ($SPARK_HOME/jars).

No sbt, no dependency resolution: every jar comes from $SPARK_HOME/jars.
The classes land in .bench_build/perfbench/classes next to a stamp holding
the hash of every compiled source, so an unchanged tree is not rebuilt.

    python3 perfbench/build.py        # build (or confirm the build is fresh)
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.sha256")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(BENCH_DIR, "src")]


class BuildError(Exception):
    pass


def spark_jars():
    """jars/ of $SPARK_HOME, else of the first Spark distribution whose
    bin/spark-submit is on PATH"""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.dirname(os.path.realpath(
            os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if glob.glob(os.path.join(home, "jars", "scala-compiler-2.13.*.jar")):
            return os.path.join(home, "jars")
    raise BuildError("no Spark 4 distribution with the Scala 2.13 compiler in "
                     "its jars/ (set SPARK_HOME)")


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    found = shutil.which("java")
    if not found:
        raise BuildError("no java on PATH and JAVA_HOME unset")
    return found


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise BuildError(f"missing source directory {os.path.relpath(d, ROOT)}")
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compiles if needed; returns the runtime classpath."""
    jars = spark_jars()
    files = sources()
    digest = source_hash(files)
    classpath = CLASSES + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(STAMP) and open(STAMP).read().strip() == digest:
        return classpath
    compiler = [sorted(glob.glob(os.path.join(jars, f"scala-{m}-2.13.*.jar")))
                for m in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BuildError(f"Scala 2.13 compiler jars not found in {jars}")
    compiler = [found[-1] for found in compiler]
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    cmd = [java_bin(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", os.path.join(jars, "*")] + files
    proc = subprocess.run(cmd, stdout=log, stderr=log)
    if proc.returncode != 0:
        raise BuildError(f"scalac failed with exit code {proc.returncode}")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
