#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles the program (src/main/scala of the checkout) together with the
benchmark's own sources (perfbench/src/main/scala) with the Scala compiler
that ships in Spark's jars, into .bench_build/classes of the checkout. A
stamp over every source file skips the build when nothing changed.

    python3 perfbench/build.py          # build
    python3 perfbench/build.py test     # build, then run the checker's tests
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
TEST_CLASSES = os.path.join(BUILD, "test-classes")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"build: no Scala compiler under {jars!r} (set SPARK_HOME)")
    return os.path.join(jars, "*")


def sources(*dirs):
    out = []
    for d in dirs:
        out += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def scalac(files, out, classpath, log):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, os.path.basename(out) + ".args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={BUILD}", "-cp", spark_jars(),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-classpath", classpath,
           "-d", tmp, "@" + argfile]
    with open(log, "w") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        raise SystemExit(f"build: scalac failed (log: {log})")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def ensure_built():
    """Compiles program + benchmark unless the stamp matches; returns the
    runtime classpath."""
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(f"build: program sources not found at {PROGRAM_SRC}")
    os.makedirs(BUILD, exist_ok=True)
    files = sources(PROGRAM_SRC, os.path.join(HERE, "src", "main", "scala"))
    want = stamp(files)
    stamp_file = os.path.join(BUILD, "classes.stamp")
    have = open(stamp_file).read() if os.path.exists(stamp_file) else ""
    if have != want or not os.path.isdir(CLASSES):
        scalac(files, CLASSES, spark_jars(), os.path.join(BUILD, "build.log"))
        with open(stamp_file, "w") as fh:
            fh.write(want)
    return CLASSES + os.pathsep + spark_jars()


def run_tests():
    cp = ensure_built()
    files = sources(os.path.join(HERE, "src", "test", "scala"))
    scalac(files, TEST_CLASSES, cp, os.path.join(BUILD, "test-build.log"))
    rc = subprocess.run(["java", "-Xmx1g", "-XX:-UsePerfData", "-cp",
                         TEST_CLASSES + os.pathsep + cp, "graftbench.CheckTest"]).returncode
    raise SystemExit(rc)


if __name__ == "__main__":
    if sys.argv[1:] == ["test"]:
        run_tests()
    elif sys.argv[1:]:
        raise SystemExit("usage: build.py [test]")
    else:
        ensure_built()
