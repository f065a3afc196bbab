#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the library sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) into one class directory, using
the Scala compiler and the jars of the Spark distribution the library's
build.sbt compiles against. The build is keyed by a hash of every source
file, so an unchanged tree is not rebuilt.

Usage: build.py <buildDir>   (prints the class directory)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


def spark_jars():
    """The jar directory the library's build.sbt compiles against (its
    `unmanagedBase`), else $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    return m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


def sources():
    out = []
    for base in (LIB_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def source_hash(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def ensure(build_dir):
    """Compile if the sources changed; return (class dir, source hash)."""
    if not os.path.isdir(LIB_SRC) or not os.path.isdir(BENCH_SRC):
        raise SystemExit(f"build: library or benchmark sources missing under {ROOT}")
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise SystemExit(f"build: Spark jars not found at {jars}")
    files = sources()
    key = source_hash(files)
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.stamp")
    if os.path.isfile(stamp) and open(stamp).read() == key:
        return classes, key
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp] + files
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    with open(stamp, "w") as fh:
        fh.write(key)
    return classes, key


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    print(ensure(sys.argv[1])[0])
