#!/usr/bin/env python3
"""Build file of the journal-store benchmark.

Compiles the repository's main sources (src/main/scala) together with the
benchmark sources (perfbench/scala) into one class directory, with the Scala
compiler that ships among the Spark jars build.sbt names as its
`unmanagedBase`. No sbt, no dependency resolution: the classpath is exactly
those jars.

usage: python3 perfbench/build.py        (run from the repository root)

The output lands in .bench_build/perfbench/ (or $CARGO_TARGET_DIR/perfbench/
when that variable is set), keyed by a hash of every compiled source, so an
unchanged tree is not rebuilt.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
MAIN_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH_DIR, "scala")


def build_root():
    base = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    if not os.path.isabs(base):
        base = os.path.join(ROOT, base)
    return os.path.join(base, "perfbench")


def spark_jar_dir():
    """The jar directory the repository's own build compiles against."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.exists(sbt):
        raise SystemExit(f"build: {sbt} is missing; run from a full checkout")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m:
        raise SystemExit("build: build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def spark_classpath():
    jars = sorted(glob.glob(os.path.join(spark_jar_dir(), "*.jar")))
    if not jars:
        raise SystemExit(f"build: no jars under {spark_jar_dir()}")
    return jars


def sources():
    if not os.path.isdir(MAIN_SRC):
        raise SystemExit(f"build: {MAIN_SRC} is missing; run from a full checkout")
    files = []
    for top in (MAIN_SRC, BENCH_SRC):
        files += glob.glob(os.path.join(top, "**", "*.scala"), recursive=True)
    return sorted(files)


def source_hash(files):
    h = hashlib.sha256()
    res = sorted(glob.glob(os.path.join(MAIN_RES, "**", "*"), recursive=True))
    for f in files + [r for r in res if os.path.isfile(r)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if needed; return the runtime classpath as a list."""
    out = build_root()
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "classes.sha256")
    files = sources()
    digest = source_hash(files)
    jars = spark_classpath()
    if os.path.exists(stamp) and open(stamp).read().strip() == digest:
        return [classes] + jars
    print(f"build: compiling {len(files)} Scala sources", file=log, flush=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-deprecation:false",
           "-d", classes, "-classpath", os.pathsep.join(jars), "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac exited {r.returncode}")
    if os.path.isdir(MAIN_RES):
        shutil.copytree(MAIN_RES, classes, dirs_exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(digest + "\n")
    return [classes] + jars


if __name__ == "__main__":
    build()
    print(build_root())
