"""Build file of the benchmark: compiles the program (`src/main/scala`) and
the benchmark's Scala sources (`perfbench/src`) with the Scala compiler that
ships in Spark's jars (`$SPARK_HOME/jars`, or beside `spark-submit` on the
PATH), into `.bench_build/classes` under the checkout root.

The build is skipped when a stamp of every source's path and content matches
the last build. Usage, from the checkout root: python3 perfbench/build.py
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
PROGRAM_SOURCES = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RESOURCES = os.path.join(ROOT, "src", "main", "resources")

# Spark 4 on JDK 17 needs these outside spark-submit (the program's build
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def jvm_opens():
    return [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]


def spark_jars():
    """`$SPARK_HOME/jars`, else the first `jars` beside a `bin/spark-submit`
    on the PATH that holds a Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return os.path.join(jars, "*")
    raise SystemExit("perfbench: no Spark jars with a Scala compiler; set SPARK_HOME")


def sources():
    found = []
    for base in (PROGRAM_SOURCES, os.path.join(HERE, "src")):
        for dirpath, _, files in os.walk(base):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return os.pathsep.join([CLASSES, PROGRAM_RESOURCES, spark_jars()])


def build():
    """Compiles when sources changed; returns the run-time classpath."""
    if not os.path.isfile(os.path.join(PROGRAM_SOURCES, "graft", "etl", "Pipeline.scala")):
        raise SystemExit("perfbench: program sources not found under %s" % PROGRAM_SOURCES)
    files = sources()
    want = stamp(files)
    if os.path.isfile(STAMP) and open(STAMP).read() == want:
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", CLASSES] + files
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    with open(STAMP, "w") as f:
        f.write(want)
    return classpath()


if __name__ == "__main__":
    build()
