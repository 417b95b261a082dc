#!/usr/bin/env python3
"""Builds the benchmark: compiles the analyzer's sources (src/main) together
with the benchmark's own (perfbench/src/main) into perfbench/target/.

    python3 perfbench/build.py        # prints the runtime classpath

The Scala compiler is run straight from the Spark jar directory the analyzer's
own build compiles against (its `unmanagedBase`), which ships scala-compiler
at the Scala version the analyzer uses. Nothing is resolved or downloaded, and
nothing is written outside perfbench/target/: no sbt, so no ~/.sbt, ~/.ivy2
or coursier cache is touched. A stamp over every source file skips the
compile when nothing changed.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "classes")
STAMP = os.path.join(TARGET, "build.stamp")
SOURCE_DIRS = (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala"))
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
TIMEOUT_S = 850


def jar_dir():
    """The jar directory named by `unmanagedBase := file("...")` in the analyzer's build.sbt."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        sys.exit("perfbench: no unmanagedBase := file(...) in the analyzer's build.sbt")
    if not glob.glob(os.path.join(m.group(1), "scala-compiler-*.jar")):
        sys.exit(f"perfbench: no scala-compiler jar in {m.group(1)}")
    return m.group(1)


def sources():
    return sorted(os.path.join(d, f) for top in SOURCE_DIRS for d, _, fs in os.walk(top)
                  for f in fs if f.endswith(".scala"))


def classpath(jars):
    cp = [CLASSES]
    if os.path.isdir(RESOURCES):
        cp.append(RESOURCES)
    return os.pathsep.join(cp + [os.path.join(jars, "*")])


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def build():
    """Compiles if any source changed since the last build; returns the runtime classpath."""
    jars = jar_dir()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return classpath(jars)
    print(f"[perfbench] compiling {len(srcs)} Scala sources", file=sys.stderr, flush=True)
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(CLASSES)
    os.makedirs(tmp, exist_ok=True)
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-d", CLASSES, "-classpath", os.path.join(jars, "*"), "-nowarn", *srcs]
    proc = subprocess.run(cmd, stdin=subprocess.DEVNULL, stdout=sys.stderr, stderr=sys.stderr,
                          timeout=TIMEOUT_S)
    if proc.returncode != 0:
        sys.exit(f"perfbench: compile failed (scalac exit {proc.returncode})")
    with open(STAMP, "w") as f:
        f.write(stamp)
    return classpath(jars)


if __name__ == "__main__":
    print(build())
