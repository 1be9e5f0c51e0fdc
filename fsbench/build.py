"""Build file of the feature-store benchmark.

Compiles the library (src/main/scala) together with the benchmark's
own sources (fsbench/src) with the Scala compiler that ships in Spark's
jars directory, into fsbench/target/classes. A build is reused while
the sources are unchanged (a stamp holds their digest).

    python3 fsbench/build.py        # build if stale, print the class dir
"""

import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "classes")
STAMP = os.path.join(TARGET, "classes.stamp")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def classpath(jars):
    return sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("java not found: set JAVA_HOME or put java on PATH")
    return exe


def sources():
    if not os.path.isdir(SOURCE_DIRS[0]):
        raise BuildError("library sources missing: %s" % SOURCE_DIRS[0])
    out = []
    for d in SOURCE_DIRS:
        for dirpath, _, files in os.walk(d):
            out.extend(os.path.join(dirpath, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built():
    """Compile if the sources changed since the last build; return the class dir."""
    files = sources()
    want = digest(files)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return CLASSES
    jars = spark_jars()
    os.makedirs(TARGET, exist_ok=True)
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(TARGET, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + TARGET, "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.pathsep.join(classpath(jars)), "@" + args_file]
    print("[fsbench] compiling %d sources" % len(files), file=sys.stderr, flush=True)
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    os.remove(args_file)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compilation failed (exit %d)" % proc.returncode)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")
    return CLASSES


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        print("[fsbench] build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
