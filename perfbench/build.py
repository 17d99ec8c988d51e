"""Build file of the benchmark runner.

Compiles the program's own sources (src/main/scala of the checkout) and
the runner (perfbench/src) into .bench_build/classes with the Scala
compiler that ships with Spark under $SPARK_HOME/jars — the same Scala
2.13 and Spark jars the program's sbt build compiles against. A hash of
every source file is stamped next to the classes, so a checkout builds
once and later runs reuse the classes.

Usage: python3 perfbench/build.py   (prints the runtime classpath)
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
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RESOURCES = os.path.join(ROOT, "src", "main", "resources")
RUNNER_SRC = os.path.join(HERE, "src")

# The program's run options (its build.sbt `javaOptions`): module opens
# Spark 4 needs on JDK 17 outside spark-submit, the serialized shuffle
# writer for small reduce counts, and the NIO local file system.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
PROGRAM_JAVA_OPTIONS = [
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    "-Dspark.shuffle.sort.bypassMergeThreshold=0",
    "-Dspark.hadoop.fs.file.impl=graft.io.NioLocalFileSystem",
]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME", "")
    jars = os.path.join(home, "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BuildError("SPARK_HOME must point at a Spark 4 installation "
                         "(its jars/ holds the compiler and Spark)")
    return jars


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError(f"no program sources at {PROGRAM_SRC}: run from a "
                         "checkout of the repository")
    out = []
    for base in (PROGRAM_SRC, RUNNER_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files
                    if f.endswith((".scala", ".java"))]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return os.pathsep.join([CLASSES, PROGRAM_RESOURCES,
                            os.path.join(spark_jars(), "*")])


def build(log=sys.stderr):
    """Compile if the sources changed; returns the runtime classpath."""
    files = sources()
    jars = os.path.join(spark_jars(), "*")
    want = stamp(files)
    stamp_file = os.path.join(CLASSES, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classpath()
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars,
         "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile],
        stdout=log, stderr=log, timeout=900)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(want)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    return classpath()


def jvm_options(heap, tmpdir):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    log4j = os.path.join(HERE, "log4j2.properties")
    # no hsperfdata file: the JVM would write it to the system temp dir
    return opens + PROGRAM_JAVA_OPTIONS + [
        "-XX:-UsePerfData", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmpdir}",
        f"-Dlog4j.configurationFile={log4j}"]


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
