#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine and the benchmark program.

Run from the root of a source checkout:

    python3 perfbench/build.py

The engine's sources (`src/main/scala`) and the benchmark's own
(`perfbench/src/main/scala`) are compiled in one go into
`perfbench/target/classes`, against the Spark jar directory that the
engine's `build.sbt` names. That directory also holds the Scala compiler
of Spark's Scala version, so the build needs no sbt, no network and no
file outside the checkout; it writes only under `perfbench/target/`.
A stamp of the sources' hash skips the compile while nothing changed.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
TARGET = os.path.join(BENCH, "target")
CLASSES = os.path.join(TARGET, "classes")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"),
           os.path.join(BENCH, "src", "main", "scala")]


def spark_jars():
    """The Spark jar directory the engine's own build.sbt compiles against."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        return re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read()).group(1)


def scala_files():
    return sorted(os.path.join(d, n) for top in SOURCES
                  for d, _, ns in os.walk(top) for n in ns if n.endswith(".scala"))


def source_hash(files):
    h = hashlib.sha256(spark_jars().encode())
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles once per source state; exits 3 with the compiler's output on failure."""
    files = scala_files()
    stamp = os.path.join(TARGET, "build.stamp")
    want = source_hash(files)
    if os.path.exists(stamp) and open(stamp).read() == want:
        return
    shutil.rmtree(TARGET, ignore_errors=True)
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(CLASSES)
    os.makedirs(tmp)
    args = os.path.join(TARGET, "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(files) + "\n")
    jars = os.path.join(spark_jars(), "*")
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                        f"-Djava.io.tmpdir={tmp}", "-cp", jars, "scala.tools.nsc.Main",
                        "-d", CLASSES, "-classpath", jars, "@" + args],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       stdin=subprocess.DEVNULL, timeout=800)
    with open(os.path.join(TARGET, "build.log"), "w") as f:
        f.write(r.stdout)
    if r.returncode != 0:
        print(f"perfbench: build failed (scalac exit {r.returncode}):\n{r.stdout[-3000:]}",
              file=sys.stderr)
        sys.exit(3)
    with open(stamp, "w") as f:
        f.write(want)


if __name__ == "__main__":
    build()
