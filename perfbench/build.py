#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's own sources (perfbench/src) with the Scala compiler that ships in
the Spark distribution, into `$CARGO_TARGET_DIR` (default `.bench_build`).

Usage, from the repository root:  python3 perfbench/build.py

Each step is skipped when a hash of its inputs matches the stamp left by the
last successful build, so only the first run in a checkout pays the compile.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        spark_submit = shutil.which("spark-submit")
        if spark_submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(spark_submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        sys.exit("build: no Spark distribution found (set SPARK_HOME)")
    return jars


def sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_step(name, srcs, classpath):
    """Compile `srcs` into OUT/<name>; returns the class directory."""
    dest = os.path.join(OUT, name)
    stamp = os.path.join(OUT, name + ".stamp")
    key = digest(srcs, ":".join(classpath))
    if os.path.isdir(dest) and os.path.exists(stamp) and open(stamp).read() == key:
        return dest
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, name + ".sources")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(spark_jars()),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(classpath),
           "-d", tmp, "@" + argfile]
    print(f"build: compiling {len(srcs)} files into {dest}", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        sys.exit(f"build: compiling {name} failed")
    shutil.rmtree(dest, ignore_errors=True)
    os.replace(tmp, dest)
    with open(stamp, "w") as fh:
        fh.write(key)
    return dest


def build():
    """Returns the runtime classpath (list of entries)."""
    engine_src = os.path.join(ROOT, "src", "main", "scala")
    engine = sources(engine_src)
    if not engine:
        sys.exit(f"build: no engine sources under {engine_src}")
    os.makedirs(OUT, exist_ok=True)
    jars = spark_jars()
    engine_classes = compile_step("engine", engine, jars)
    bench_classes = compile_step("perfbench", sources(os.path.join(BENCH, "src")),
                                 [engine_classes] + jars)
    resources = os.path.join(ROOT, "src", "main", "resources")
    return [bench_classes, engine_classes, resources] + jars


if __name__ == "__main__":
    build()
