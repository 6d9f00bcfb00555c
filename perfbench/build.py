#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles graft's main sources together with the benchmark's own Scala
sources (`perfbench/scala`) into one class directory, with the Scala
compiler and Spark jars of the Spark distribution (`$SPARK_HOME/jars`, else
the jar directory the repository's own `build.sbt` names as
`unmanagedBase`). The output goes under
`.bench_build/perfbench` at the root of the checkout and is reused while
no source file changes.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCES = (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala"))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit(f"no Spark jars at {jars!r} (set SPARK_HOME)")
    return os.path.join(jars, "*")


def source_files():
    files = []
    for root in SOURCES:
        if not os.path.isdir(root):
            raise SystemExit(f"missing source directory {os.path.relpath(root, ROOT)}")
        files += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
    return sorted(files)


def classpath():
    """Build if needed; return the runtime class path."""
    files = source_files()
    digest = hashlib.sha256()
    for f in files:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(OUT, "stamp")
    classes = os.path.join(OUT, "classes")
    jars = spark_jars()
    if not (os.path.exists(stamp) and open(stamp).read() == digest.hexdigest()):
        subprocess.run(["rm", "-rf", classes], check=True)
        os.makedirs(classes)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
               "-nowarn", "-d", classes, "-classpath", jars] + files
        res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if res.returncode != 0:
            sys.stderr.write(res.stdout[-4000:])
            raise SystemExit("scalac failed")
        with open(stamp, "w") as fh:
            fh.write(digest.hexdigest())
    return f"{classes}{os.pathsep}{jars}"


if __name__ == "__main__":
    print(classpath())
