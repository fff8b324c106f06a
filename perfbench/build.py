"""Builds the program and the benchmark's JVM harness from source.

Compiles the repository's `src/main/scala` together with
`perfbench/scala` with the Scala compiler that ships in Spark's jars
(`$SPARK_HOME/jars`), into `.bench_build/classes` at the checkout root.
A stamp of the sources' content makes a rebuild happen only when a
source changed.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
        raise RuntimeError("SPARK_HOME must point at a Spark install whose jars/ holds the Scala compiler")
    return os.path.join(home, "jars", "*")


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise RuntimeError(f"missing source directory {os.path.relpath(d, ROOT)}")
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def source_stamp():
    """The stamp of the sources the last build compiled."""
    with open(STAMP) as f:
        return f.read()


def classpath():
    return CLASSES + os.pathsep + spark_jars()


def build(log=sys.stderr):
    """Compile if the sources changed since the last build; returns the
    runtime classpath. Raises on a failed build."""
    files = sources()
    want = stamp(files)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == want:
        return classpath()
    jars = spark_jars()
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-cp", jars, "@" + argfile]
    print("perfbench: compiling %d sources" % len(files), file=log)
    proc = subprocess.run(cmd, stdout=log, stderr=log, timeout=800)
    if proc.returncode != 0:
        raise RuntimeError("compilation failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(want)
    return classpath()


if __name__ == "__main__":
    try:
        print(build())
    except Exception as e:  # noqa: BLE001 - report and fail
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(1)
