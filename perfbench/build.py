#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources (src/main/scala) and
the benchmark's own (perfbench/src) with the Scala compiler that ships in the
Spark distribution, into .bench_build/classes. Rebuilds only when a source file,
the compiler or this file changed.

    python3 perfbench/build.py          # from the root of a checkout
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")

# Spark 4 on JDK 17 outside spark-submit needs these (same list as the engine's build).
ADD_OPENS = [x for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for x in ("--add-opens", p + "=ALL-UNNAMED")]


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else None
    return exe if exe and os.path.exists(exe) else (shutil.which("java") or "java")


def spark_jars():
    """$SPARK_HOME/jars, or the jars dir beside a `bin/` on the PATH that has one
    with the Scala compiler in it."""
    homes = [os.environ.get("SPARK_HOME", "")]
    homes += [os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark jars with a Scala compiler found (set SPARK_HOME)")


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"perfbench: engine sources not found at {ENGINE_SRC}; "
                         "run from the root of a full checkout")
    files = []
    for d in (ENGINE_SRC, BENCH_SRC):
        for dp, _, fs in os.walk(d):
            files += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def classpath():
    """Runtime classpath of the compiled benchmark."""
    return os.pathsep.join([CLASSES, ENGINE_RES, os.path.join(spark_jars(), "*")])


def build(log=sys.stderr):
    jars = spark_jars()
    files = sources()
    want = stamp(files, jars)
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return
    print(f"perfbench: compiling {len(files)} Scala files", file=log, flush=True)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = [java(), "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", CLASSES, "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(want)


if __name__ == "__main__":
    build()
