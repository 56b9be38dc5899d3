#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine's sources
(src/main/scala) together with the benchmark's own (perfbench/src) with
scalac, into .bench_build/perfbench-<hash>/classes.

The Spark jars (which include the Scala 2.13 compiler) come from
$SPARK_HOME/jars, or else from the `unmanagedBase` the repo's build.sbt
names. The output directory is keyed by a hash of every source file, so
an unchanged tree is not recompiled.

Usage: python3 perfbench/build.py            (prints the classpath)
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_BASE = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jars: set SPARK_HOME")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError("engine sources not found under src/main/scala")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files


def build(log=sys.stderr):
    """Compiles if needed; returns the classpath to run the benchmark with."""
    jars = spark_jars()
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar in {jars}")
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(OUT_BASE, "perfbench-" + h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    cp = f"{classes}{os.pathsep}{jars}/*"
    if os.path.exists(os.path.join(out, "READY")):
        return cp
    os.makedirs(classes, exist_ok=True)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    print(f"[perfbench] compiling {len(files)} sources into {os.path.relpath(out, ROOT)}",
          file=log, flush=True)
    res = subprocess.run(
        ["java", "-Xss16m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
         "-nowarn", "-classpath", f"{jars}/*", "-d", classes, "@" + argfile],
        stdout=log, stderr=log, timeout=850)
    if res.returncode != 0:
        raise BuildError(f"scalac exited with {res.returncode}")
    open(os.path.join(out, "READY"), "w").close()
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
