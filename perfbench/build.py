#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (`src/main/scala`)
together with the harness (`perfbench/src`) into `.bench_build/classes`
with the Scala compiler that ships among the Spark jars: the jar
directory named by the program's own build (`unmanagedBase` in
build.sbt), else `$SPARK_HOME/jars`.

    python3 perfbench/build.py          # from the repository root

A build is skipped when a stamp of every source file's path, size and
modification time matches the last successful build.
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

BUILD = ".bench_build"
CLASSES = os.path.join(BUILD, "classes")
SOURCE_ROOTS = ["src/main/scala", "perfbench/src"]


def sources():
    files = []
    for root in SOURCE_ROOTS:
        if not os.path.isdir(root):
            raise SystemExit(f"build: missing source directory {root}; "
                             "run from the repository root")
        files += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        st = os.stat(f)
        h.update(f"{f}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def spark_jars():
    """The program's dependency jar directory."""
    if os.path.exists("build.sbt"):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise SystemExit("build: no Spark jar directory (build.sbt unmanagedBase or $SPARK_HOME/jars)")


def classpath():
    return os.path.join(spark_jars(), "*")


def build():
    """Compiles if needed; returns the runtime classpath."""
    files = sources()
    want = stamp(files)
    stamp_file = os.path.join(BUILD, "classes.stamp")
    cp = CLASSES + os.pathsep + classpath()
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return cp
    os.makedirs(CLASSES, exist_ok=True)
    for old in glob.glob(os.path.join(CLASSES, "**", "*.class"), recursive=True):
        os.remove(old)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", classpath(), "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", classpath()] + files
    print(f"build: compiling {len(files)} files", file=sys.stderr)
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {res.returncode}")
    with open(stamp_file, "w") as f:
        f.write(want)
    return cp


if __name__ == "__main__":
    build()
