#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the library sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) into .bench_build/classes with the
Scala compiler that ships in the Spark distribution's jar directory. The
build is skipped when a stamp of every source file's path and bytes is
unchanged.

    python3 perfbench/build.py          # from the repository root
"""
import hashlib
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]


def spark_jar_dir():
    """$SPARK_HOME/jars, else the jar directory build.sbt names in unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            return m.group(1)
    raise SystemExit("perfbench: set SPARK_HOME (no unmanagedBase in build.sbt)")


def spark_jars():
    d = spark_jar_dir()
    if not os.path.isdir(d):
        raise SystemExit(f"perfbench: no Spark jar directory at {d} (set SPARK_HOME)")
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".jar"))


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    if not out:
        raise SystemExit("perfbench: no Scala sources found")
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return os.pathsep.join([CLASSES] + spark_jars())


def build():
    files = sources()
    want = stamp(files)
    if os.path.isfile(STAMP) and open(STAMP).read().strip() == want:
        return
    jars = spark_jars()
    if os.path.isdir(CLASSES):
        subprocess.run(["rm", "-rf", CLASSES], check=True)
    os.makedirs(CLASSES)
    if os.path.exists(STAMP):
        os.remove(STAMP)
    argfile = os.path.join(OUT, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={OUT}",
           "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", os.pathsep.join(jars),
           "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compilation failed (exit {r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")


if __name__ == "__main__":
    os.makedirs(OUT, exist_ok=True)
    build()
