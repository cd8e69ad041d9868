#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together with
the benchmark's own Scala sources into one class directory.

graft is a Scala library built against the Spark distribution's jars (as
build.sbt does). That distribution also ships the Scala 2.13 compiler, so the
build needs neither sbt nor any download: scalac runs straight from those
jars. The output is
keyed by a hash of every source file, so an unchanged tree is not rebuilt.

Run from the root of a checkout:
    python3 perfbench/build.py          # prints the class directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def spark_jars():
    """The jars of the Spark distribution: $SPARK_HOME, or the first
    distribution with a Scala compiler whose `spark-submit` is on the PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("no Spark distribution with a Scala compiler: set SPARK_HOME")


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not main:
        raise SystemExit("graft's sources (src/main/scala) are missing: "
                         "run from the root of a graft checkout")
    bench = sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))
    return main + bench


def build():
    """Compile if needed; return the class directory."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()[:16]
    out = os.path.join(BUILD_DIR, "classes-" + stamp)
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    if os.path.isdir(BUILD_DIR):
        for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"[build] compiling {len(srcs)} files into {out}", file=sys.stderr)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out,
           "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit(f"scalac failed with exit code {r.returncode}")
    open(os.path.join(out, ".complete"), "w").close()
    return out


if __name__ == "__main__":
    print(build())
