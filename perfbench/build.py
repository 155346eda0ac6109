"""Build file of the benchmark.

Compiles the library (src/main/scala) together with the benchmark
(perfbench/src) using the Scala compiler that ships in Spark's jars
directory, into perfbench/out/classes. A stamp of the sources' digest
skips the compile when nothing changed.

Usage, from the repository root:  python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
OUT = os.path.join(HERE, "out")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")


def spark_jars():
    """The jars directory of the Spark installation: $SPARK_HOME/jars, or
    the one next to the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        sys.exit("perfbench: no Spark installation (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        sys.exit("perfbench: no java found (set JAVA_HOME)")
    return exe


def sources():
    if not os.path.isdir(LIB_SRC):
        sys.exit(f"perfbench: library sources not found at {os.path.relpath(LIB_SRC)}")
    found = []
    for base in (LIB_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def digest(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_built():
    """Compiles if the sources changed since the last build; returns the
    classes directory."""
    files = sources()
    want = digest(files)
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return CLASSES
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    done = subprocess.run([java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                           f"-Djava.io.tmpdir={tmp}", "-cp", cp, "scala.tools.nsc.Main",
                           "-nowarn", "-d", tmp, "-cp", cp] + files, stdout=sys.stderr)
    if done.returncode != 0:
        sys.exit("perfbench: compile failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(want)
    return CLASSES


if __name__ == "__main__":
    ensure_built()
