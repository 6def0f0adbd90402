#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark (perfbench/src) with the Scala compiler that ships in the Spark
distribution ($SPARK_HOME, else the one whose spark-submit is on PATH), into
the build directory (``$CARGO_TARGET_DIR`` when set, else ``.bench_build``),
relative to the repository root.

Two stages, each skipped when a content hash of its inputs is unchanged:

  classes/main   the engine, from src/main/scala
  classes/bench  the benchmark, compiled against classes/main

Usage:  python3 perfbench/build.py          (prints the classpath)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars_dir():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise SystemExit("build: no Spark distribution (set SPARK_HOME)")
    return os.path.join(home, "jars")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    jars = sorted(glob.glob(os.path.join(spark_jars_dir(), "*.jar")))
    if not jars:
        raise SystemExit(f"build: no jars under {spark_jars_dir()}")
    return jars


def sources(rel):
    files = sorted(glob.glob(os.path.join(ROOT, rel, "**", "*.scala"), recursive=True))
    if not files:
        raise SystemExit(f"build: no Scala sources under {rel}")
    return files


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def scalac(srcs, out, classpath):
    """One scalac run in a fresh JVM; the output dir is replaced only on
    success, so an interrupted build never leaves a half-written stage."""
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [j for j in spark_jars()
                if os.path.basename(j).startswith(("scala-compiler", "scala-library", "scala-reflect"))]
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(["-d", tmp, "-nowarn", "-classpath", ":".join(classpath)] + srcs))
    cmd = ["java", "-Xss64m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed for {out}")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def stage(name, srcs, classpath, key):
    out = os.path.join(build_dir(), "classes", name)
    stamp = out + ".stamp"
    if os.path.isdir(out) and os.path.exists(stamp) and open(stamp).read() == key:
        return out
    print(f"build: compiling {name} ({len(srcs)} files)", file=sys.stderr, flush=True)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    scalac(srcs, out, classpath)
    with open(stamp, "w") as fh:
        fh.write(key)
    return out


def build():
    """Returns the runtime classpath entries (engine, benchmark, Spark)."""
    jars = spark_jars()
    main_src = sources("src/main/scala")
    main_key = digest(main_src, spark_jars_dir())
    main_out = stage("main", main_src, jars, main_key)
    bench_src = sources("perfbench/src")
    bench_out = stage("bench", bench_src, [main_out] + jars, digest(bench_src, main_key))
    return [main_out, bench_out, os.path.join(spark_jars_dir(), "*")]


if __name__ == "__main__":
    print(":".join(build()))
