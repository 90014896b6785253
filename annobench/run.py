#!/usr/bin/env python3
"""Annotate-path benchmark runner.

    python3 annobench/run.py --workload mixed_crawl --seed 1 --seconds 10 --trace 0
    python3 annobench/run.py --self-test

Builds the benchmark if needed (annobench/build.py), then runs one
workload in a JVM with an explicit driver heap at local[nproc]. The last
line of standard output is the result JSON. See annobench/README.md.
"""
import argparse
import os
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# Explicit: the library's own build defaults to -Xmx24g, more than this
# host class has.
DRIVER_HEAP = "3g"
DEFAULT_SEED = 1

# Spark 4 on JDK 17 outside spark-submit (as in the library's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def java_cmd(cp, main, args):
    out = build.build_dir()
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # ParallelGC: no concurrent GC threads competing with the measured
    # single-thread passes (G1's doubled their pass-to-pass spread)
    return (["java", f"-Xmx{DRIVER_HEAP}", f"-Xms{DRIVER_HEAP}", "-Xss8m", "-XX:+UseParallelGC",
             f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
            + opens + ["-cp", cp, main] + args)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    cp = build.build()
    if a.self_test:
        cmd = java_cmd(cp, "annobench.SelfTest", [])
    else:
        if not a.workload:
            ap.error("--workload is required")
        cmd = java_cmd(cp, "annobench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--out", build.build_dir()])
    p = subprocess.Popen(cmd, cwd=build.ROOT)
    try:
        code = p.wait()
    except BaseException:
        p.kill()
        p.wait()
        raise
    sys.exit(code)


if __name__ == "__main__":
    main()
