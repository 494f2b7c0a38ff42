#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program's sources
(`src/main/scala` at the repository root) together with the benchmark's
own Scala harness (`perfbench/scala`) into `perfbench/.build/classes`.

The compiler is the Scala 2.13 compiler that ships in Spark's jar
directory (`$SPARK_HOME/jars`, else the `unmanagedBase` directory of the
repository's `build.sbt`), and the classpath is those jars, the same
jars the repository's sbt build uses. A build is skipped when the
sources are unchanged since the last one.

    python3 perfbench/build.py     # prints the runtime classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")


def spark_jars():
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        found = os.path.exists(sbt) and re.search(
            r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if not found:
            raise SystemExit("build: set SPARK_HOME (no unmanagedBase in build.sbt)")
        jars = found.group(1)
    if not os.path.isdir(jars):
        raise SystemExit(f"build: no Spark jar directory at {jars}")
    return jars


def sources():
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]
    for d in dirs:
        if not os.path.isdir(d):
            raise SystemExit(f"build: missing source directory {os.path.relpath(d, ROOT)}")
    files = []
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    files = sources()
    key = digest(files)
    cp = CLASSES + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(STAMP) and open(STAMP).read() == key:
        return cp
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with open(STAMP, "w") as fh:
        fh.write(key)
    return cp


if __name__ == "__main__":
    print(build())
