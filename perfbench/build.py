"""Build file of the benchmark: compiles the graft library (src/main/scala)
and the harness (perfbench/src) with the Scala compiler Spark ships, into
.bench_build/perfbench/classes. A stamp (a hash of every source file and
the Spark jar list) skips the compile when nothing changed.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BUILD = os.path.join(REPO, ".bench_build", "perfbench")


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    """The jars of the Spark install at $SPARK_HOME, else those bundled
    with the pyspark package."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
            home = os.path.dirname(pyspark.__file__)
        except ImportError:
            home = ""
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        fail("no Spark jars found: set SPARK_HOME to a Spark 4 install")
    return jars


def sources():
    program = sorted(glob.glob(os.path.join(REPO, "src", "main", "scala", "**", "*.scala"),
                           recursive=True))
    if not program:
        fail("no library sources under src/main/scala: run from a graft checkout")
    harness = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return program + harness


def build(jars):
    """Compiles library + harness with the Scala compiler Spark ships, once
    per distinct source tree (the stamp is a hash of every source file)."""
    srcs = sources()
    h = hashlib.sha256()
    for path in srcs + jars:
        h.update(path.encode())
        if path.endswith(".scala"):
            with open(path, "rb") as f:
                h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.pathsep.join(jars)
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", classes, "-classpath", cp] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"[perfbench] built {len(srcs)} sources in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return classes


if __name__ == "__main__":
    build(spark_jars())
