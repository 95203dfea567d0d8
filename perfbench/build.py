#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark (perfbench/src) into .bench_build/classes with the Scala
compiler that ships in the Spark distribution's jars directory.

The build is skipped when a stamp over every source file and the jar
listing matches the last successful build.

    python3 perfbench/build.py          # from the repository root
"""
import glob
import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]


def spark_jars():
    """The Spark distribution's jars directory: the first that holds a Scala
    compiler of $SPARK_HOME/jars, the one beside the spark-submit on PATH,
    and the one inside an installed pyspark package."""
    homes = [os.environ.get("SPARK_HOME")]
    if shutil.which("spark-submit"):
        homes.append(os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit")))))
    spec = importlib.util.find_spec("pyspark")
    if spec and spec.origin:
        homes.append(os.path.dirname(spec.origin))
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    sys.exit("build: no Spark distribution with a Scala compiler found; "
             "set SPARK_HOME")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    out = []
    for d in SOURCE_DIRS:
        out += sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    return out


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    for j in sorted(os.listdir(jars)):
        h.update(j.encode())
    return h.hexdigest()


def build():
    """Compile if needed; return the classpath to run with."""
    jars = spark_jars()
    files = sources()
    if not any(f.startswith(SOURCE_DIRS[0]) for f in files):
        sys.exit("build: no program sources under src/main/scala")
    cp = CLASSES + os.pathsep + os.path.join(jars, "*")
    want = stamp(files, jars)
    stamp_file = os.path.join(CLASSES, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return cp
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + OUT, "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-cp", os.path.join(jars, "*"), "@" + argfile]
    print(f"build: compiling {len(files)} sources", file=sys.stderr, flush=True)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        sys.exit("build: compilation failed")
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cp


if __name__ == "__main__":
    build()
