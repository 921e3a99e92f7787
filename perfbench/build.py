#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala) together with the harness
(perfbench/scala) using the Scala compiler that ships in the Spark
distribution's jars directory ($SPARK_HOME/jars, default /opt/spark/jars),
into <build dir>/perfbench/classes. The build dir is $CARGO_TARGET_DIR when
set, else .bench_build, relative to the repository root. A build is reused
while the SHA-256 over every source file is unchanged.

Usage: python3 perfbench/build.py   (prints the classes directory)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR",
                                             ".bench_build"))


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise RuntimeError(f"no Scala compiler jar under {jars}")
    return jars


def sources():
    found = []
    for tree in ("src/main/scala", "perfbench/scala"):
        top = os.path.join(ROOT, tree)
        if not os.path.isdir(top):
            raise RuntimeError(f"missing source tree {tree}")
        found += glob.glob(os.path.join(top, "**", "*.scala"), recursive=True)
    return sorted(found)


def build():
    srcs = sources()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    out = os.path.join(build_dir(), "perfbench")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    rc = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", cp] + srcs,
        stdout=sys.stderr, cwd=ROOT, timeout=800).returncode
    if rc != 0:
        raise RuntimeError(f"scalac exited with code {rc}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
