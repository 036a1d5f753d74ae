#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the library sources (src/main/scala of the checkout) together
with the benchmark's own sources (perfbench/src) with the Scala compiler
that ships in Spark's jar directory, and packs the classes into
perfbench/.build/graftbench.jar. A stamp of every source's content skips
the compile when nothing changed.

    python3 perfbench/build.py        # build, print the jar
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
JAR = os.path.join(BUILD, "graftbench.jar")
STAMP = os.path.join(BUILD, "stamp")
# class-data archive of the benchmark JVM; depends on the jar, so a
# rebuild drops it
CDS = os.path.join(BUILD, "app.jsa")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise BuildError("Spark jars not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def sources():
    lib = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(lib):
        raise BuildError(f"library sources not found at {lib}: run from a checkout of the repo")
    out = []
    for base in (lib, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def pack(classes, jar):
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                full = os.path.join(d, f)
                z.write(full, os.path.relpath(full, classes))


def build(log=sys.stderr):
    """Compile if the sources changed; return (jar, source digest)."""
    files = sources()
    jars = spark_jars()
    stamp = digest(files)
    if os.path.exists(JAR) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return JAR, stamp
    for stale in (JAR, STAMP, CDS):
        if os.path.exists(stale):
            os.remove(stale)
    tmp = os.path.join(BUILD, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    print(f"building {len(files)} sources ...", file=log, flush=True)
    res = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-classpath", cp, "-d", tmp] + files,
        stdout=log, stderr=log, cwd=ROOT)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac exited with {res.returncode}")
    pack(tmp, JAR + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.rename(JAR + ".tmp", JAR)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return JAR, stamp


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
