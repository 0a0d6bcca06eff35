#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's sources (`src/main/scala`) together with the
benchmark's own (`perfbench/src`) into `.bench_build/classes-*`, using the
Scala compiler that ships with Spark's jars (`$SPARK_HOME/jars`, else those
of the Spark on PATH or of an installed pyspark). The output directory is named by a digest of the
sources, so an unchanged tree is not compiled again and a running
benchmark keeps its classes while a changed tree builds beside them.
Run from the repository root:

    python3 perfbench/build.py
"""
import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
PROGRAM_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")


class BuildError(Exception):
    pass


def spark_jars():
    """`$SPARK_HOME/jars`, else the jars of the Spark whose `spark-submit`
    is on PATH, else those of an installed `pyspark`."""
    homes = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    spec = importlib.util.find_spec("pyspark")
    if spec and spec.origin:
        homes.append(os.path.dirname(spec.origin))
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise BuildError("Spark jars not found; set SPARK_HOME")


def sources(root):
    found = []
    for base in (PROGRAM_SRC, BENCH_SRC):
        top = os.path.join(root, base)
        if not os.path.isdir(top):
            raise BuildError(f"missing source directory {base}")
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    if not any(p.startswith(os.path.join(root, PROGRAM_SRC)) for p in found):
        raise BuildError(f"no Scala sources under {PROGRAM_SRC}")
    return sorted(found)


def stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(root="."):
    """Return the classes directory, compiling first when sources changed."""
    srcs = sources(root)
    jars = spark_jars()
    classes = os.path.join(root, BUILD_DIR, "classes-" + stamp(srcs)[:16])
    if os.path.isdir(classes):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
