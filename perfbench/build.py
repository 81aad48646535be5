"""Build file of the pump benchmark.

Compiles the program (`src/main/scala`) together with the benchmark's
own sources (`perfbench/scala`, `perfbench/test`) into
`.bench_build/perfbench/classes` with the Scala compiler that ships with
Spark, the same jars the repository's sbt build compiles against. The
build is skipped when a stamp over every source file is unchanged.

    python3 perfbench/build.py          # build if needed, print the class dir
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
PROGRAM_SOURCES = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SOURCES = [os.path.join(ROOT, "perfbench", "scala"), os.path.join(ROOT, "perfbench", "test")]


def spark_jars():
    """The Spark jars: `$SPARK_HOME/jars`, else the repository build.sbt's
    `unmanagedBase`, the jars the program is built against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    found = os.path.exists(sbt) and re.search(
        r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not found:
        raise SystemExit("set SPARK_HOME: no Spark jars named in build.sbt")
    return found.group(1)


def classpath(classes=CLASSES):
    return os.pathsep.join([classes, PROGRAM_RESOURCES, os.path.join(spark_jars(), "*")])


def sources():
    found = []
    for top in [PROGRAM_SOURCES] + BENCH_SOURCES:
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files + sorted(
        os.path.join(d, f) for d, _, fs in os.walk(PROGRAM_RESOURCES) for f in fs
    ):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if the sources changed; return the source stamp."""
    if not os.path.isdir(PROGRAM_SOURCES):
        raise SystemExit(f"no program sources at {os.path.relpath(PROGRAM_SOURCES, ROOT)}")
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise SystemExit(f"no Spark jars at {jars}")
    files = sources()
    digest = stamp(files)
    stamp_file = os.path.join(CLASSES, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == digest:
        return digest
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    print(f"[perfbench] compiling {len(files)} source files", file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(spark_jars(), "*"), "@" + args_file]
    done = subprocess.run(cmd, stdout=log, stderr=log)
    if done.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"compile failed (exit {done.returncode})")
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(digest)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    return digest


if __name__ == "__main__":
    build()
    print(CLASSES)
