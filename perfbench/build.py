"""Build file for the benchmark: compiles the engine (src/main/scala) and the
benchmark harness (perfbench/harness) with the Scala compiler that ships in
the Spark distribution, into .bench_build/classes.

The build is skipped when a stamp of every source file's path and content
matches the last successful build. Run from the repository root:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_JARS = os.environ.get("SPARK_JARS", "/opt/spark/jars")
BUILD_DIR = ".bench_build"
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "classes.stamp")
SOURCE_ROOTS = ["src/main/scala", "perfbench/harness"]


def sources():
    files = []
    for root in SOURCE_ROOTS:
        if not os.path.isdir(root):
            raise SystemExit(f"build: source directory {root} is missing")
        files += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Runtime classpath: the compiled classes, then the Spark jars."""
    return f"{CLASSES}{os.pathsep}{SPARK_JARS}/*"


def build():
    files = sources()
    want = stamp(files)
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{SPARK_JARS}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", f"{SPARK_JARS}/*"] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed with exit code {r.returncode}")
    with open(STAMP, "w") as fh:
        fh.write(want)


if __name__ == "__main__":
    build()
