"""Build file of the benchmark: compiles the program's main sources and the
benchmark's Scala sources into one class directory with the Scala compiler
that ships in Spark's jars. No sbt, no network.

    python3 perfbench/build.py      # from the repository root

The build is skipped when the sources' digest matches the last build.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SOURCES = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(BUILD, "classes")


def spark_home():
    """$SPARK_HOME, else the first Spark install with a jars directory whose
    spark-submit is on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isfile(submit) and os.path.isdir(os.path.join(home, "jars")):
            return home
    return ""


SPARK_JARS = os.path.join(spark_home(), "jars")
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def sources():
    files = []
    for top in (PROGRAM_SOURCES, os.path.join(HERE, "scala")):
        files += glob.glob(os.path.join(top, "**", "*.scala"), recursive=True)
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return CLASSES + os.pathsep + os.path.join(SPARK_JARS, "*")


def java(main, args, tmp):
    """Command line that runs `main` from the build on local disk `tmp`."""
    return (["java"] + JVM_OPENS +
            ["-Xmx4g", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", classpath(), main] + args)


def build():
    """Compiles when needed; returns the class path to run with."""
    if not os.path.isdir(PROGRAM_SOURCES):
        raise SystemExit("perfbench: no program sources at src/main/scala; "
                         "run from the root of a repository checkout")
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit(f"perfbench: Spark jars not found at {SPARK_JARS}; set SPARK_HOME")
    files = sources()
    stamp = os.path.join(BUILD, "stamp")
    want = digest(files)
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == want:
                return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(SPARK_JARS, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp", "-classpath", CLASSES, "-d", CLASSES] + files
    subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=850)
    with open(stamp, "w") as f:
        f.write(want)
    return classpath()


if __name__ == "__main__":
    print(build())
