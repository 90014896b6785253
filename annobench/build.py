#!/usr/bin/env python3
"""Build file of the annotate-path benchmark.

Compiles the library's sources (src/main/scala) together with the
benchmark's own (annobench/src) with the Scala compiler that ships in the
Spark distribution, into <build dir>/classes. A stamp of every source's
path and content skips the compile when nothing changed.

    python3 annobench/build.py            # from the repository root
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_SRC = os.path.join(ROOT, "annobench", "src")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
LIB_RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def build_dir():
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, base, "annobench")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the library's build.sbt
    names as its unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        raise SystemExit(f"annobench: no Spark jars at '{jars}' (set SPARK_HOME)")
    return jars


def sources():
    if not os.path.isdir(LIB_SRC):
        raise SystemExit(f"annobench: library sources missing at {LIB_SRC}")
    out = []
    for top in (LIB_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def classpath(classes):
    return os.pathsep.join([classes, LIB_RESOURCES, os.path.join(spark_jars(), "*")])


def build():
    """Compiles if needed; returns the runtime classpath."""
    out = build_dir()
    classes = os.path.join(out, "classes")
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = os.path.join(out, "classes.stamp")
    digest = h.hexdigest()
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classpath(classes)
    os.makedirs(out, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile]
    print(f"annobench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, cwd=ROOT)
    if r.returncode != 0:
        raise SystemExit(f"annobench: compile failed ({r.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(digest)
    return classpath(classes)


if __name__ == "__main__":
    print(build())
