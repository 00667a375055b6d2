#!/usr/bin/env python3
"""Build file of the perfbench package.

Compiles the engine (`src/main/scala`) together with the harness
(`perfbench/src`) into `.bench_build/perfbench/classes`, using the Scala
compiler that ships in Spark's jar directory (`$SPARK_HOME/jars`), so no
build tool or dependency download is needed. A stamp of every source
file's content makes a second call a no-op.

Usage: python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        sys.exit("perfbench: Spark jars not found (set SPARK_HOME)")
    return jars


def sources():
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    if not os.path.isdir(dirs[0]):
        sys.exit("perfbench: engine sources (src/main/scala) not found")
    found = []
    for d in dirs:
        for base, _, files in os.walk(d):
            found += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def classpath():
    jars = spark_jars()
    return [os.path.join(jars, j) for j in sorted(os.listdir(jars)) if j.endswith(".jar")]


def build():
    """Compile when a source changed; return the runtime class path."""
    srcs = sources()
    cp = classpath()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = os.path.join(OUT, "stamp")
    if os.path.isdir(CLASSES) and os.path.isfile(stamp):
        with open(stamp) as f:
            if f.read() == digest.hexdigest():
                return [CLASSES] + cp
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    scala = [j for j in cp if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", os.pathsep.join(scala),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.pathsep.join(cp), "@" + argfile]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        sys.exit("perfbench: compilation failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return [CLASSES] + cp


if __name__ == "__main__":
    build()
