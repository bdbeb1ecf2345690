#!/usr/bin/env python3
"""Builds the benchmark harness: compiles perfbench/src together with the
program's sources (src/main/scala) with the Scala compiler that ships in
Spark's jars, against those same jars.

    python3 perfbench/build.py

Run from the repository root. It needs only a JDK and an installed Spark
(no sbt, no dependency cache, no network), and it writes only under
.perfbench_work/. The build is skipped while the sources' SHA-256 matches
the one recorded at the last successful build.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CLASSES = os.path.join(WORK, "classes")
STAMP = os.path.join(WORK, "classes.sha256")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_LIMIT_S = 850


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    return sorted(glob.glob(os.path.join(PROGRAM_SRC, "**", "*.scala"), recursive=True)
                  + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))


def sources_digest(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """The Spark jars the harness compiles and runs against: $SPARK_HOME/jars,
    else the directory the repository's own build.sbt compiles against,
    else the jars of the Spark whose spark-submit is on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    submit = shutil.which("spark-submit")
    if submit is None:
        raise SystemExit("set SPARK_HOME or put spark-submit on PATH: the harness runs on Spark's jars")
    return os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def build():
    """Compiles the harness with the program's sources unless the compiled
    classes already match them."""
    files = sources()
    if not os.path.exists(os.path.join(PROGRAM_SRC, "graft", "SparkEntry.scala")):
        raise SystemExit(f"graft sources not found under {PROGRAM_SRC}; run from a full checkout")
    digest = sources_digest(files)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    jars = spark_jars()
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no scala-compiler jar in {jars}: the harness is compiled with Spark's own Scala")
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp = os.path.join(WORK, "build-tmp")
    os.makedirs(CLASSES)
    os.makedirs(tmp, exist_ok=True)
    argfile = os.path.join(WORK, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", CLASSES, f"@{argfile}"]
    log(f"compiling the harness and {len(files)} source files (scalac from {jars})")
    with open(os.path.join(WORK, "build.log"), "w") as out:
        rc = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT, timeout=BUILD_LIMIT_S).returncode
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0:
        raise SystemExit(f"build failed (exit {rc}); see {os.path.join(WORK, 'build.log')}")
    with open(STAMP, "w") as f:
        f.write(digest)


if __name__ == "__main__":
    build()
