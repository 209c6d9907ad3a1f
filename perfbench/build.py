#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark's own Scala sources (perfbench/scala) into one class
directory with the Scala compiler that ships among the Spark jars.

The output lives under .bench_build/classes-<stamp>, where the stamp is a
hash of every source file and of this script, so a changed source is
always rebuilt and an unchanged tree is never rebuilt.

    python3 perfbench/build.py          # prints the class directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
SOURCE_DIRS = ["src/main/scala", "perfbench/scala"]
RESOURCES = "src/main/resources"


def spark_jars():
    """The Spark jar directory: the repository build's unmanagedBase."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("perfbench: build.sbt names no existing unmanagedBase jar directory")
    return m.group(1)


def sources():
    out = []
    for d in SOURCE_DIRS:
        base = os.path.join(ROOT, d)
        if not os.path.isdir(base):
            raise SystemExit(f"perfbench: missing source directory {d}")
        for dirpath, _, files in os.walk(base):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compile if needed; return (class dir, source stamp)."""
    files = sources()
    st = stamp(files)
    out = os.path.join(BUILD, f"classes-{st}")
    if os.path.exists(os.path.join(out, ".ok")):
        return out, st
    os.makedirs(BUILD, exist_ok=True)
    for old in os.listdir(BUILD):  # one compiled tree at a time
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit(f"perfbench: compile failed (exit {r.returncode})")
    open(os.path.join(out, ".ok"), "w").close()
    return out, st


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(ROOT, RESOURCES),
                            os.path.join(spark_jars(), "*")])


if __name__ == "__main__":
    print(build()[0])
