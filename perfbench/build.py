#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's sources (src/main/scala)
together with the benchmark's own (perfbench/src) into
.bench_build/classes, with the Scala compiler that ships among Spark's
jars. Rebuilds only when a source changed.

    python3 perfbench/build.py        # from the root of the repository
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")


def spark_jars():
    """$SPARK_HOME/jars, else the directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = os.path.exists(sbt) and re.search(
        r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m:
        raise RuntimeError("no Spark jars: set SPARK_HOME")
    return m.group(1)


def sources():
    found = []
    for top in (os.path.join(ROOT, "src", "main", "scala"),
                os.path.join(BENCH, "src")):
        found += glob.glob(os.path.join(top, "**", "*.scala"), recursive=True)
    return sorted(found)


def classpath():
    return os.path.join(spark_jars(), "*")


def build():
    """Compile if needed; return the classes directory. Raises on failure."""
    srcs = sources()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise RuntimeError("no graft sources under src/main/scala")
    jars = spark_jars()
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise RuntimeError(f"no Scala compiler among {jars}")
    digest = hashlib.sha256()
    for path in srcs + sorted(os.listdir(jars)):
        digest.update(path.encode())
        if path.endswith(".scala"):
            with open(path, "rb") as f:
                digest.update(f.read())
    stamp = os.path.join(BUILD, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss16m", "-XX:-UsePerfData", "-cp", classpath(),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-cp", classpath(), "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise RuntimeError("compilation failed")
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return CLASSES


if __name__ == "__main__":
    try:
        print(build())
    except RuntimeError as e:
        sys.exit(f"build failed: {e}")
