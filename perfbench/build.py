#!/usr/bin/env python3
"""Build file of the benchmark package: compiles graft's `src/main` sources
together with the benchmark driver in `perfbench/src` into one class
directory, using the Scala compiler that ships with Spark's jars.

Run from the repository root:  python3 perfbench/build.py
Output goes to $CARGO_TARGET_DIR (default `.bench_build`); a stamp over
every input makes an unchanged rebuild a no-op.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_SRC = "perfbench/src"
PROGRAM_SRC = "src/main/scala"
RESOURCES = "src/main/resources"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise BuildError(f"no Spark jars at {jars} (set SPARK_HOME)")
    return jars


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, PROGRAM_SRC, "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, BENCH_SRC, "*.scala")))
    if not prog:
        raise BuildError(f"no program sources under {PROGRAM_SRC}")
    if not bench:
        raise BuildError(f"no benchmark sources under {BENCH_SRC}")
    return prog + bench


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(root):
    """Runtime classpath: compiled classes, graft's resources, Spark."""
    return os.pathsep.join([os.path.join(build_dir(root), "classes"),
                            os.path.join(root, RESOURCES),
                            os.path.join(spark_jars(), "*")])


def ensure_built(root, log=sys.stderr):
    files = sources(root)
    out = build_dir(root)
    classes = os.path.join(out, "classes")
    want = stamp(files)
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return
    jars = spark_jars()
    compiler = [glob.glob(os.path.join(jars, f"scala-{p}-2.13*.jar")) for p in
                ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BuildError(f"no Scala 2.13 compiler jars in {jars}")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    print(f"[perfbench] compiling {len(files)} Scala files into {classes}", file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with open(stamp_file, "w") as fh:
        fh.write(want)


if __name__ == "__main__":
    try:
        ensure_built(os.getcwd())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
