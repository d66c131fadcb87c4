#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library (`src/main/scala`)
and the harness (`perfbench/src`) with the Scala compiler that ships in
the Spark distribution's jar directory, into `.bench_build/` of the
checkout.

Usage: python3 perfbench/build.py            (from the repository root)

The classes are rebuilt only when a source file changed: the output
directory is keyed by a hash of every source path and its bytes, so a
checkout of another commit never reuses stale classes.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars() -> str:
    """The Spark distribution's jars: $SPARK_HOME/jars, else next to the
    `spark-submit` on PATH. They include scala-compiler, so no other
    toolchain is needed."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("build: no Spark distribution (set SPARK_HOME)")
    return jars


def sources(*dirs: str) -> list:
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files
                    if f.endswith((".scala", ".java"))]
    return sorted(out)


def tree_hash(paths: list) -> str:
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def scalac(jars: str, out: str, classpath: str, srcs: list, log) -> None:
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath, "-Ybackend-parallelism", "4",
           "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed for {out} "
                         f"(see {log.name})")


def build() -> str:
    """Compile if needed; returns the runtime classpath."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    bench_src = os.path.join(HERE, "src")
    if not os.path.isdir(main_src):
        raise SystemExit(f"build: no library sources at {main_src}")
    jars = spark_jars()
    lib_srcs, bench_srcs = sources(main_src), sources(bench_src)
    lib_dir = os.path.join(BUILD, "lib-" + tree_hash(lib_srcs))
    bench_dir = os.path.join(
        BUILD, "bench-" + tree_hash(lib_srcs + bench_srcs))
    spark_cp = os.path.join(jars, "*")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "a") as log:
        for out, cp, srcs in ((lib_dir, spark_cp, lib_srcs),
                              (bench_dir, lib_dir + os.pathsep + spark_cp,
                               bench_srcs)):
            if os.path.exists(os.path.join(out, ".done")):
                continue
            shutil.rmtree(out, ignore_errors=True)
            t0 = time.time()
            scalac(jars, out, cp, srcs, log)
            open(os.path.join(out, ".done"), "w").close()
            print(f"build: compiled {len(srcs)} files into "
                  f"{os.path.relpath(out, ROOT)} in {time.time() - t0:.1f}s",
                  file=sys.stderr)
    return os.pathsep.join([bench_dir, lib_dir, spark_cp])


if __name__ == "__main__":
    print(build())
