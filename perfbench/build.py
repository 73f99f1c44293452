#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine's sources
(src/main/scala) together with the benchmark's own (perfbench/src) into
one class directory under .bench_build/, with the Scala compiler that
ships among the Spark jars (those build.sbt names, or $SPARK_HOME/jars).
The output directory is keyed by a digest of every source file, so an
unchanged checkout builds once.

Usage: python3 perfbench/build.py   (prints the class directory)
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")


class BuildError(Exception):
    pass


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the engine's build.sbt
    names as its unmanagedBase."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        if not m:
            raise BuildError("no SPARK_HOME and no unmanagedBase in build.sbt")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BuildError(f"no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    if not engine:
        raise BuildError(f"no engine sources under {ENGINE_SRC}")
    return engine + sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))


def classpath(classes, jars):
    return os.pathsep.join([classes, ENGINE_RES, os.path.join(jars, "*")])


def ensure():
    """Compile if needed; return (class directory, Spark jars directory)."""
    jars = spark_jars()
    srcs = sources()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    out = os.path.join(BUILD, "classes-" + digest.hexdigest()[:16])
    done = os.path.join(out, ".complete")
    if os.path.exists(done):
        return out, jars
    os.makedirs(out, exist_ok=True)
    compiler = [os.path.join(jars, j) for j in os.listdir(jars)
                if j.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    # scalac expands no classpath wildcards: list the jars
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath",
           os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar")))),
           "@" + argfile]
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        raise BuildError("scalac failed")
    open(done, "w").close()
    return out, jars


if __name__ == "__main__":
    try:
        print(ensure()[0])
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
