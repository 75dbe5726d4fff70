#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (src/main/scala) together with the benchmark's own
sources (perfbench/src) with the Scala compiler that ships in the Spark jar
directory, into .bench_build/classes under the current directory (the root of
a checkout). A content stamp of every source makes a rebuild happen only when
a source changed. Run from the checkout root:

    python3 perfbench/build.py
"""
import hashlib
import os
import subprocess
import sys

BUILD_DIR = ".bench_build"
SOURCE_ROOTS = ["src/main/scala", "perfbench/src"]
RESOURCES = "src/main/resources"


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not os.path.isdir(jars):
        raise SystemExit(f"perfbench: Spark jar directory not found: {jars}")
    return jars


def sources():
    out = []
    for root in SOURCE_ROOTS:
        if not os.path.isdir(root):
            raise SystemExit(f"perfbench: source directory missing: {root}")
        for d, _, files in os.walk(root):
            out.extend(os.path.join(d, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Runtime classpath: compiled classes, program resources, Spark jars."""
    return os.pathsep.join([os.path.join(BUILD_DIR, "classes"), RESOURCES, os.path.join(spark_jars(), "*")])


def build():
    files = sources()
    want = stamp(files)
    stamp_file = os.path.join(BUILD_DIR, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return
    classes = os.path.join(BUILD_DIR, "classes")
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(classes)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes] + files
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    res = subprocess.run(cmd, stdout=sys.stderr)
    if res.returncode != 0:
        raise SystemExit(f"perfbench: compilation failed ({res.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(want)


if __name__ == "__main__":
    build()
