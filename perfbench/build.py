#!/usr/bin/env python3
"""Build file of the benchmark. From the repository root:

    python3 perfbench/build.py

1. Compiles the engine (src/main/scala) and the benchmark (perfbench/src)
   with the Scala compiler that ships in the Spark distribution, into one
   jar. No dependency is resolved: the Spark jars are the whole classpath,
   as in the engine's own build.sbt.
2. Runs one small pass of every workload with -XX:ArchiveClassesAtExit to
   record a class-data archive of the classes a run loads. Every run then
   maps it, which takes about 5 s of class loading off each JVM start.

Output goes to $CARGO_TARGET_DIR (default .bench_build) / perfbench. A stamp
of the source contents skips both steps when nothing changed.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def out_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the engine's build.sbt
    compiles against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise RuntimeError(f"no Spark jars with a Scala compiler at '{jars}'")
    return jars


def java(work, *extra):
    """The JVM command line of a benchmark run with scratch space `work`."""
    out = out_dir()
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-XX:-UsePerfData"] + opens + list(extra) + [
                "-Xmx1g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                "-cp", f"{os.path.join(out, 'perfbench.jar')}:{spark_jars()}/*",
                "perfbench.Main", "--work", work])


def sources():
    files = []
    for d in SOURCE_DIRS:
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compile and record the class archive if the sources changed; return
    the extra JVM flags a run needs."""
    if not os.path.isdir(SOURCE_DIRS[0]):
        raise RuntimeError(f"engine sources not found at {SOURCE_DIRS[0]}")
    jars = spark_jars()
    srcs = sources()
    digest = hashlib.sha256()
    for f in srcs + [os.path.abspath(__file__)]:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    out = out_dir()
    stamp = os.path.join(out, "stamp")
    archive = os.path.join(out, "perfbench.jsa")
    flags = [f"-XX:SharedArchiveFile={archive}"]
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return flags
    shutil.rmtree(out, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs))
    subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
                    "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", f"{jars}/*",
                    f"@{args_file}"],
                   check=True, stdout=sys.stderr, timeout=600)
    with zipfile.ZipFile(os.path.join(out, "perfbench.jar"), "w") as jar:
        for dirpath, _, names in os.walk(classes):
            for n in names:
                path = os.path.join(dirpath, n)
                jar.write(path, os.path.relpath(path, classes))
    shutil.rmtree(classes)
    train = os.path.join(out, "train")
    os.makedirs(os.path.join(train, "tmp"))
    subprocess.run(java(train, f"-XX:ArchiveClassesAtExit={archive}") + ["--train", "1"],
                   check=True, stdout=sys.stderr, cwd=train, timeout=240,
                   env=dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(train, "spark-local")))
    shutil.rmtree(train)
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return flags


if __name__ == "__main__":
    build()
