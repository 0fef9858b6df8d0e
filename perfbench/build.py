#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark's own sources (perfbench/src) with the Scala compiler that
ships in the Spark distribution's jars, into .bench_build/classes.

A stamp holding the hash of every compiled source is written next to
the classes, so a second call with unchanged sources does nothing.

    python3 perfbench/build.py        # from the repository root
"""
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
ENGINE_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one next to the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        raise SystemExit("build: no Spark distribution found "
                         "(set SPARK_HOME or put spark-submit on PATH)")
    return jars


def sources(root):
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        full = os.path.join(root, base)
        if not os.path.isdir(full):
            raise SystemExit(f"build: missing source directory {base}")
        for d, _, files in os.walk(full):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root="."):
    """Compile if the sources changed; return the classpath to run with."""
    jars = spark_jars()
    srcs = sources(root)
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(s.encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    out = os.path.join(root, BUILD_DIR)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    classpath = f"{os.path.join(jars, '*')}{os.pathsep}{classes}"
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classpath
    os.makedirs(out, exist_ok=True)
    staging = classes + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", staging, "@" + args_file]
    res = subprocess.run(cmd, cwd=root)
    if res.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with code {res.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else "."))
