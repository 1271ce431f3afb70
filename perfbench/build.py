#!/usr/bin/env python3
"""Build file of the benchmark harness.

Compiles the engine (src/main/scala of the checkout this directory sits
in) together with the harness (perfbench/src) with the Scala compiler
that ships in the Spark distribution, against the same Spark jars the
engine's build.sbt uses, packs the classes into .bench_build/perfbench.jar
and makes a class-data-sharing archive (.bench_build/perfbench.jsa) from
a short training run (perfbench.Train). Every benchmark JVM maps that
archive, so it starts without parsing and verifying the Spark classes
again. A content stamp of every source skips all of it when nothing
changed.

Usage: python3 perfbench/build.py     (from the root of the checkout)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
JAR = os.path.join(OUT, "perfbench.jar")
JSA = os.path.join(OUT, "perfbench.jsa")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")


def spark_jars():
    """The Spark jars the engine builds against: `$SPARK_HOME/jars`, else
    the `unmanagedBase` directory of the engine's build.sbt."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read()) \
        if os.path.exists(sbt) else None
    if not m:
        raise SystemExit("build: set SPARK_HOME; build.sbt names no unmanagedBase")
    return m.group(1)


ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def java(tmp):
    """The java command line every benchmark JVM (and the training run)
    starts with: the archive must see the same classpath and flags."""
    return ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        # -UsePerfData: no hsperfdata file outside the checkout
        "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}", "-cp", JAR + os.pathsep + os.path.join(spark_jars(), "*")]


def jar():
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for dirpath, _, names in sorted(os.walk(CLASSES)):
            for n in sorted(names):
                f = os.path.join(dirpath, n)
                z.write(f, os.path.relpath(f, CLASSES))


def archive():
    """Dump the classes a training run loads into the CDS archive."""
    work = os.path.join(OUT, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        cmd = java(os.path.join(work, "tmp")) + [
            f"-XX:ArchiveClassesAtExit={JSA}", "perfbench.Train", "--work", work]
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work, timeout=300,
                           env=dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local")))
        if r.returncode != 0 or not os.path.exists(JSA):
            raise SystemExit(f"build: training run exited {r.returncode}")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def sources():
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    if not files:
        raise SystemExit(f"build: no engine sources under {ENGINE_SRC}")
    return files + sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))


def build():
    """Compile, pack and archive if any source changed."""
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(OUT, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return
    for f in (stamp, JAR, JSA):
        if os.path.exists(f):
            os.remove(f)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", CLASSES] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac exited {r.returncode}")
    if os.path.isdir(ENGINE_RES):
        shutil.copytree(ENGINE_RES, CLASSES, dirs_exist_ok=True)
    jar()
    archive()
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())


if __name__ == "__main__":
    build()
