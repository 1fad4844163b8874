#!/usr/bin/env python3
"""Build step of the benchmark: compiles the engine and the client, and
generates the input tables.

Both outputs are cached under `.bench_build/` in the checkout and keyed
by a hash of what produced them, so only the first run in a checkout
pays for them:

  .bench_build/classes/   graft (src/main/scala) + perfbench/scala,
                          compiled by scalac from the Spark distribution
  .bench_build/data/      graft.GenData at 1x sf0.1 (seeded splitmix64,
                          fixed: the same bytes on every build)

Usage: python3 perfbench/build.py      (run from the checkout root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")

def _spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the one
    next to `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    return os.path.join(home or "", "jars")


JARS = _spark_jars()
CLASSES = os.path.join(BUILD, "classes")
DATA = os.path.join(BUILD, "data", "gen1")
GEN_MULT = "1"

# Spark 4 on JDK 17 outside spark-submit needs the --add-opens (the same
# list as build.sbt's javaOptions). -UsePerfData keeps the JVM from
# writing its hsperfdata file outside the checkout.
JVM_FLAGS = ["-XX:-UsePerfData"] + [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


class BuildError(Exception):
    pass


def _digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _stamped(d, key):
    try:
        with open(os.path.join(d, ".stamp")) as f:
            return f.read() == key
    except OSError:
        return False


def _stamp(d, key):
    with open(os.path.join(d, ".stamp"), "w") as f:
        f.write(key)


def classpath():
    return f"{CLASSES}:{JARS}/*"


def compile_sources():
    srcs = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not srcs:
        raise BuildError(f"no engine sources under {ROOT}/src/main/scala")
    if not os.path.isdir(JARS):
        raise BuildError(f"no Spark jars at {JARS}")
    srcs += sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    key = _digest(srcs, extra=" ".join(sorted(os.listdir(JARS))))
    if _stamped(CLASSES, key):
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{JARS}/*",
           "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-cp", f"{JARS}/*"] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    _stamp(CLASSES, key)


def generate_data():
    gen = os.path.join(ROOT, "src", "main", "scala", "graft", "GenData.scala")
    key = _digest([gen], extra=GEN_MULT)
    if _stamped(DATA, key):
        return
    shutil.rmtree(DATA, ignore_errors=True)
    work = DATA + ".work"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_GRAFT_CPUS="2")
    env.pop("SPARK_LOCAL_DIRS", None)
    cmd = ["java", *JVM_FLAGS, "-Xmx2g", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.local.dir={work}/tmp", "-cp", classpath(),
           "graft.GenData", f"{work}/out", GEN_MULT]
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, cwd=work, env=env)
        if r.returncode != 0:
            raise BuildError("GenData failed:\n" + r.stdout[-4000:])
        os.makedirs(os.path.dirname(DATA), exist_ok=True)
        os.rename(f"{work}/out", DATA)
        _stamp(DATA, key)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def build():
    compile_sources()
    generate_data()


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
    print(f"built {CLASSES} and {DATA}")
