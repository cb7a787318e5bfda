"""Build file of the benchmark package: compiles the program
(src/main/scala, plus src/main/resources) together with the
benchmark's own sources (perfbench/src) using the Scala compiler that
ships with the Spark jars, into .bench_build/classes-<digest>.

The digest covers every source and resource file, so an unchanged tree
is never rebuilt and a changed one always is.

Usage: python3 perfbench/build.py     (from the repository root)
Prints the class directory on success.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
SOURCE_ROOTS = ["src/main/scala", "perfbench/src"]
RESOURCES = "src/main/resources"


def _files(root, suffix=None):
    out = []
    for d, _, names in os.walk(root):
        for n in names:
            if suffix is None or n.endswith(suffix):
                out.append(os.path.join(d, n))
    return sorted(out)


def spark_jars():
    """The Spark jars the program compiles against: the directory its
    build.sbt names as `unmanagedBase`, else $SPARK_HOME/jars."""
    with open("build.sbt") as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    return m.group(1) if m else os.path.join(os.environ["SPARK_HOME"], "jars")


def scala_jars():
    jars = spark_jars()
    names = sorted(os.listdir(jars))
    pick = lambda p: next(os.path.join(jars, n) for n in names if n.startswith(p))
    return [pick("scala-compiler-"), pick("scala-library-"), pick("scala-reflect-")]


def build():
    for r in SOURCE_ROOTS:
        if not os.path.isdir(r):
            raise SystemExit(f"build: {r} not found; run from the repository root")
    sources = [f for r in SOURCE_ROOTS for f in _files(r, ".scala")]
    resources = _files(RESOURCES) if os.path.isdir(RESOURCES) else []
    h = hashlib.sha256()
    for f in sources + resources + scala_jars():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    os.makedirs(BUILD_DIR, exist_ok=True)
    for n in os.listdir(BUILD_DIR):
        if n.startswith("classes-"):
            shutil.rmtree(os.path.join(BUILD_DIR, n), ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    args = os.path.join(BUILD_DIR, "scalac-args.txt")
    with open(args, "w") as fh:
        fh.write("\n".join(sources) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(scala_jars()),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(spark_jars(), "*"), "@" + args]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    for f in resources:
        dst = os.path.join(tmp, os.path.relpath(f, RESOURCES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
