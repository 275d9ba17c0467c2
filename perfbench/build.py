#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's Scala sources
(src/main/scala) together with the benchmark's own (perfbench/scala) into
.bench_build/classes with the Scala compiler shipped in the Spark
distribution. The build is skipped when a stamp of every source file's
content matches the last build.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

SOURCE_DIRS = ["src/main/scala", "perfbench/scala"]


def spark_jars():
    """The Spark jars the repository builds against: the `unmanagedBase`
    of its build.sbt, else $SPARK_HOME/jars."""
    if os.path.exists("build.sbt"):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open("build.sbt").read())
        if m:
            return m.group(1)
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise RuntimeError("no Spark jars: build.sbt names none and SPARK_HOME is unset")


def build_dir():
    return os.path.abspath(".bench_build")


def classes_dir():
    return os.path.join(build_dir(), "classes")


def classpath():
    return classes_dir() + os.pathsep + os.path.join(spark_jars(), "*")


def sources():
    files = []
    for d in SOURCE_DIRS:
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles if needed; returns the source stamp. Raises on failure."""
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise RuntimeError(f"missing source directory {d}")
    files = sources()
    st = stamp(files)
    stamp_file = os.path.join(build_dir(), "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == st:
        return st
    out = classes_dir()
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(build_dir(), "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main", "-encoding", "utf8", "-nowarn", "-d", out,
           "-classpath", jars, "@" + argfile]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise RuntimeError("compilation failed")
    with open(stamp_file, "w") as fh:
        fh.write(st)
    return st


if __name__ == "__main__":
    try:
        print(build())
    except Exception as e:  # noqa: BLE001
        sys.stderr.write(f"build failed: {e}\n")
        sys.exit(1)
