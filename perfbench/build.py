#!/usr/bin/env python3
"""Build the benchmark together with the library it measures.

Compiles the library sources (`src/main/scala`) and the benchmark sources
(`perfbench/src`) into one class directory with the Scala compiler that
ships in the Spark distribution, so no build tool or network is needed.
The build is skipped when a stamp of every source file's content matches
the previous build.

    python3 perfbench/build.py            # prints the class directory

Run from the repository root. `CARGO_TARGET_DIR` (default `.bench_build`)
names the build directory; `SPARK_HOME` (else the installation
`spark-submit` on PATH belongs to) the Spark distribution.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

LIB_SRC = os.path.join("src", "main", "scala")
LIB_RES = os.path.join("src", "main", "resources")
BENCH_SRC = os.path.join("perfbench", "src")


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise SystemExit("build: set SPARK_HOME to a Spark distribution")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        raise SystemExit(f"build: no Spark jars under {home}/jars")
    return jars


def sources():
    if not os.path.isdir(LIB_SRC):
        raise SystemExit(f"build: library sources not found at {LIB_SRC}")
    files = []
    for base in (LIB_SRC, BENCH_SRC):
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names
                      if n.endswith((".scala", ".java"))]
    return sorted(files)


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def runtime_classpath(classes, jars):
    return os.pathsep.join([classes, os.path.abspath(LIB_RES)] + jars)


def build(quiet=False):
    """Compile if stale; return the runtime classpath."""
    out = build_dir()
    classes = os.path.join(out, "classes")
    jars = spark_jars()
    files = sources()
    want = stamp(files, jars)
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return runtime_classpath(classes, jars)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", os.pathsep.join(jars)]
    if not quiet:
        print(f"build: compiling {len(files)} sources", file=sys.stderr)
    res = subprocess.run(cmd + files, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-20000:])
        raise SystemExit("build: compilation failed")
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return runtime_classpath(classes, jars)


if __name__ == "__main__":
    print(build())
