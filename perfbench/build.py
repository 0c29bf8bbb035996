#!/usr/bin/env python3
"""Build of the benchmark package: compiles the program's sources
(src/main/scala) together with the harness (perfbench/src/main/scala)
into perfbench/.work/classes.

    python3 perfbench/build.py

It calls the Scala compiler that ships with Spark (scala-compiler in
Spark's jars/, the Scala version the program is built with), so it needs
only `java` and a Spark installation: SPARK_HOME, else the spark-submit
on PATH, else the installed pyspark package. There is no dependency
resolution and nothing is written outside perfbench/.work. The build is
skipped when the sources, Spark's jar set and this file are unchanged.
"""
import glob
import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(WORK, "classes")
STAMP = os.path.join(WORK, "build.stamp")
SOURCE_ROOTS = [os.path.join(ROOT, "src", "main", "scala"),
                os.path.join(HERE, "src", "main", "scala")]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jars/ directory: SPARK_HOME's, else that of the
    spark-submit on PATH, else the pyspark package's."""
    homes = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    pyspark = importlib.util.find_spec("pyspark")
    if pyspark is not None and pyspark.origin:
        homes.append(os.path.dirname(pyspark.origin))
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars")
    fail("no Spark installation with its jars found; set SPARK_HOME")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("no java found; set JAVA_HOME or put java on PATH")
    return exe


def sources():
    files = []
    for r in SOURCE_ROOTS:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    if not files or not os.path.isdir(SOURCE_ROOTS[0]):
        fail("program sources not found (src/main/scala); run from a full "
             "checkout")
    return sorted(files)


def digest(files, jars):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    for j in sorted(os.listdir(jars)):
        h.update(j.encode())
    return h.hexdigest()


def main():
    jars = spark_jars()
    files = sources()
    want = digest(files, jars)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and \
            open(STAMP).read() == want:
        return
    out = CLASSES + ".new"
    tmp = os.path.join(WORK, "build-tmp")
    for d in (out, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    args = os.path.join(WORK, "build.args")
    with open(args, "w") as f:
        f.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    rc = subprocess.run([
        java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}", "-cp", cp, "scala.tools.nsc.Main",
        "-nowarn", "-d", out, "-classpath", cp, f"@{args}"]).returncode
    if rc != 0:
        fail(f"compilation failed (exit {rc})")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(out, CLASSES)
    shutil.rmtree(tmp, ignore_errors=True)
    with open(STAMP, "w") as f:
        f.write(want)


if __name__ == "__main__":
    main()
