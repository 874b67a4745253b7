#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources and the
benchmark's own Scala sources into one class directory with the Scala
compiler that ships in Spark's jar directory. It reads the root project's
sources and edits none of its files or build settings.

Usage: python3 perfbench/build.py   (from the repository root)

Output: .bench_build/classes, rebuilt only when a source file changed
(the stamp is a digest of every source path and its bytes).
"""
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
SOURCE_ROOTS = ["src/main/scala", "perfbench/src/main/scala"]


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise BuildError("Spark not found: set SPARK_HOME")
    return jars


def sources(root):
    out = []
    for rel in SOURCE_ROOTS:
        base = os.path.join(root, rel)
        if not os.path.isdir(base):
            raise BuildError(f"missing source directory {rel}")
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    if not out:
        raise BuildError("no Scala sources found")
    return sorted(out)


def source_digest(root):
    h = hashlib.sha256()
    for p in sources(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def ensure_built(root="."):
    """Compile when the sources changed; returns (classes dir, digest)."""
    digest = source_digest(root)
    classes = os.path.join(root, BUILD_DIR, "classes")
    stamp = os.path.join(root, BUILD_DIR, "classes.stamp")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                return classes, digest
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    tmp = os.path.join(root, BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", classes] + sources(root)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with open(stamp, "w") as f:
        f.write(digest)
    return classes, digest


if __name__ == "__main__":
    try:
        print(ensure_built(".")[0])
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
