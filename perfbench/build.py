#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's library sources
(src/main/scala) together with the benchmark's JVM side (perfbench/scala)
into .bench_build/classes-<stamp> with the Scala compiler that ships in the
Spark distribution, where the stamp hashes every source: a tree already
compiled is not compiled again, and builds of two source trees (a parent
and a change) sit side by side. The Spark jar directory is the one build.sbt
names as its unmanagedBase (SPARK_JARS overrides it).

Usage: python3 perfbench/build.py            (from the repository root)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

SOURCE_DIRS = ["src/main/scala", "perfbench/scala"]


def spark_jars(root):
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise RuntimeError("build.sbt names no unmanagedBase Spark jar directory")
    return m.group(1)


def build_dir(root):
    return os.path.join(root, ".bench_build")


def source_stamp(root):
    """Hash of every source's path and contents."""
    h = hashlib.sha256()
    for s in sources(root):
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sources(root):
    out = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(os.path.join(root, d)):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root, log=sys.stderr):
    """Compile unless this source tree is compiled already; returns
    (classpath, stamp). Raises RuntimeError when the tree holds no graft
    sources or scalac fails."""
    srcs = sources(root)
    if not any(s.endswith(os.path.join("graft", "SparkEntry.scala")) for s in srcs):
        raise RuntimeError("graft sources (src/main/scala) not found under " + root)
    stamp = source_stamp(root)
    classes = os.path.join(build_dir(root), "classes-" + stamp[:16])
    cp = classes + os.pathsep + os.path.join(spark_jars(root), "*")
    done = os.path.join(classes, ".complete")
    if os.path.exists(done):
        return cp, stamp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(build_dir(root), f"sources-{stamp[:16]}.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    jars = os.path.join(spark_jars(root), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
           "-d", classes, "-classpath", jars, "@" + args_file]
    print(f"[build] compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=850)
    if r.returncode != 0:
        raise RuntimeError("scalac failed:\n" + r.stdout[-4000:])
    open(done, "w").close()
    return cp, stamp


if __name__ == "__main__":
    try:
        print(build(os.getcwd())[0])
    except RuntimeError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
