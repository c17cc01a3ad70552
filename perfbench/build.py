#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft (`src/main/scala`) and the
harness (`perfbench/src`) with the Scala 2.13 compiler that ships in the
Spark distribution, against Spark's jars. No sbt, no network.

The output goes to `$CARGO_TARGET_DIR` if set, else `.bench_build`, under
the repository root. A stamp of the sources' contents skips the rebuild
when nothing changed.

Usage: python3 perfbench/build.py [--force]
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_JARS = "/opt/spark/jars"
SCALA = "2.13.17"


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/*.scala")))
    return main, bench


def classpath():
    """Classpath to run the harness: compiled classes + Spark's jars."""
    return os.path.join(build_dir(), "classes") + os.pathsep + os.path.join(SPARK_JARS, "*")


def build(force=False):
    main, bench = sources()
    if not main:
        raise SystemExit("build: no graft sources under src/main/scala")
    compiler = [os.path.join(SPARK_JARS, f"scala-{n}-{SCALA}.jar")
                for n in ("compiler", "library", "reflect")]
    missing = [j for j in compiler if not os.path.isfile(j)]
    if missing:
        raise SystemExit(f"build: Scala compiler jars not found: {missing}")
    h = hashlib.sha256()
    for f in main + bench:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp_file = os.path.join(build_dir(), "stamp")
    out = os.path.join(build_dir(), "classes")
    if not force and os.path.isfile(stamp_file) and open(stamp_file).read() == h.hexdigest():
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", os.path.join(SPARK_JARS, "*"), "-d", out] + main + bench
    r = subprocess.run(cmd, cwd=ROOT)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with open(stamp_file, "w") as fh:
        fh.write(h.hexdigest())


if __name__ == "__main__":
    build(force="--force" in sys.argv[1:])
