#!/usr/bin/env python3
"""Builds the benchmark: compiles the program's main sources
(src/main/scala) together with the benchmark's own (perfbench/src) using the
Scala compiler that ships in the Spark distribution ($SPARK_HOME/jars), into
perfbench/target/classes. The build is redone only when a source changes.

    python3 perfbench/build.py     # prints the runtime classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
TARGET = os.path.join(HERE, "target")


class BuildError(Exception):
    pass


def source_files():
    files = []
    for r in SOURCES:
        for dirpath, dirnames, names in os.walk(r):
            dirnames.sort()
            files += [os.path.join(dirpath, n) for n in sorted(names) if n.endswith(".scala")]
    return files


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Returns (source digest, runtime classpath), compiling if needed."""
    if not os.path.isdir(os.path.join(SOURCES[0], "graft")):
        raise BuildError(f"no program sources under {os.path.relpath(SOURCES[0], os.getcwd())}")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        raise BuildError("SPARK_HOME must point at a Spark distribution")
    jars = os.path.join(spark_home, "jars", "*")
    files = source_files()
    d = digest(files)
    classes = os.path.join(TARGET, "classes")
    stamp = os.path.join(TARGET, "digest")
    cp = classes + os.pathsep + jars
    if os.path.exists(stamp) and open(stamp).read() == d:
        return d, cp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
         "-d", tmp, "-classpath", jars] + files,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as fh:
        fh.write(d)
    return d, cp


if __name__ == "__main__":
    try:
        print(build()[1])
    except BuildError as e:
        sys.exit(f"perfbench: {e}")
