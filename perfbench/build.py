#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the graft library
(src/main/scala) and the benchmark (perfbench/src) from source in one
scalac pass, with the Scala compiler and the Spark jars of the local
Spark install. Output goes to .bench_build/classes under the checkout
root; a stamp of every source file skips the compile when nothing
changed.

Usage (from the checkout root): python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
SOURCE_DIRS = ["src/main/scala", "perfbench/src"]
COMPILE_TIMEOUT_S = 600


def spark_jars(root="."):
    """Directory holding the Spark jars (and scala-compiler): $SPARK_HOME/jars,
    else the `unmanagedBase` the repository's build.sbt compiles against."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        with open(os.path.join(root, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            candidates.append(m.group(1))
    except OSError:
        pass
    for c in candidates:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    raise SystemExit("build: no Spark jars with a scala-compiler found (set SPARK_HOME)")


def sources(root):
    out = []
    for d in SOURCE_DIRS:
        base = os.path.join(root, d)
        if not os.path.isdir(base):
            raise SystemExit(f"build: missing source directory {d}")
        for dirpath, _, files in os.walk(base):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    if not out:
        raise SystemExit("build: no Scala sources")
    return sorted(out)


def stamp(root, files, jars):
    h = hashlib.sha256()
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile if needed; return the classes directory."""
    jars = spark_jars(root)
    files = sources(root)
    out = os.path.join(root, BUILD_DIR, "classes")
    stamp_file = out + ".stamp"
    want = stamp(root, files, jars)
    if os.path.isdir(out) and os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = tmp + ".args"
    with open(args_file, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + args_file]
    try:
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=COMPILE_TIMEOUT_S)
    finally:
        os.remove(args_file)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return out


if __name__ == "__main__":
    print(build(os.getcwd()))
