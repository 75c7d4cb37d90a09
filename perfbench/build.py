#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the program's main sources (src/main/scala) together with the
benchmark's own sources (perfbench/src/main/scala) into
.bench_build/classes, with the Scala compiler that ships in Spark's jar
directory, the same jars the program's build.sbt compiles against. A
rebuild happens only when a source file changed.

Run from the repository root:  python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

OUT = ".bench_build"
SOURCE_DIRS = ("src/main/scala", "perfbench/src/main/scala")


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise RuntimeError("cannot find Spark's jars; set SPARK_HOME")


def java_bin():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else ""
    return exe if exe and os.path.exists(exe) else "java"


def sources(root):
    found = []
    for d in SOURCE_DIRS:
        found += glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True)
    return sorted(found)


def build(root):
    """Returns (classes dir, jar dir), compiling first if any source changed."""
    jars = spark_jars(root)
    srcs = sources(root)
    if not any(s.startswith(os.path.join(root, "src")) for s in srcs):
        raise RuntimeError("no program sources under src/main/scala")
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp_file = os.path.join(root, OUT, "classes.stamp")
    classes = os.path.join(root, OUT, "classes")
    if os.path.isdir(classes) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == h.hexdigest():
        return classes, jars
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(root, OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = [java_bin(), "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise RuntimeError("scalac failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(h.hexdigest())
    return classes, jars


if __name__ == "__main__":
    try:
        print(build(os.getcwd())[0])
    except RuntimeError as e:
        sys.exit(f"perfbench build: {e}")
