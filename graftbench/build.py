#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the repository's main sources (src/main/scala) together with the
benchmark's own sources (graftbench/scala) into one class directory, with
the Scala compiler that ships among the Spark distribution's jars. The jars
are taken from $SPARK_HOME/jars, or from the distribution that holds the
`spark-submit` found on PATH. Output goes to .bench_build/graftbench; a
stamp of every source's content skips the compile when nothing changed.

Usage: python3 graftbench/build.py    (prints the runtime classpath)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "graftbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


class BuildError(RuntimeError):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark distribution with a Scala compiler: set SPARK_HOME")
    return jars


def sources():
    found = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise BuildError(f"missing source directory {os.path.relpath(d, ROOT)}")
        found += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(found)


def stamp_of(srcs, jars):
    h = hashlib.sha256()
    for name in sorted(os.listdir(jars)):
        h.update(name.encode() + b"\0")
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode() + b"\0")
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath(jars):
    return os.pathsep.join([CLASSES, RESOURCES, os.path.join(jars, "*")])


def build(log=sys.stderr):
    """Compiles if needed; returns the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    stamp = stamp_of(srcs, jars)
    if os.path.exists(STAMP) and open(STAMP).read() == stamp and os.path.isdir(CLASSES):
        return classpath(jars)
    os.makedirs(OUT, exist_ok=True)
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"[graftbench] compiling {len(srcs)} sources", file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-encoding", "UTF-8", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    if subprocess.call(cmd, stdout=log, stderr=log) != 0:
        raise BuildError("scalac failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return classpath(jars)


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[graftbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
