"""Build the benchmark: the program's sources plus perfbench/scala, compiled
with the Scala compiler that ships in Spark's jar directory (see
spark_jars), into `.bench_build/classes` at the root of the checkout.

    python3 perfbench/build.py        # from the root of a checkout

A stamp (a hash of every source file) skips the compile when nothing
changed; a file lock keeps concurrent runs from compiling twice.
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "classes.stamp")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the directory the
    project's build.sbt names as `unmanagedBase`."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    if os.path.exists("build.sbt"):
        with open("build.sbt") as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            candidates.append(m.group(1))
    for jars in candidates:
        if glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")


def sources():
    if not os.path.isdir("src/main/scala/graft"):
        raise SystemExit("perfbench: run from the root of a graft checkout "
                         "(src/main/scala/graft is missing)")
    files = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    files += sorted(glob.glob("perfbench/scala/**/*.scala", recursive=True))
    return files


def classpath():
    return f"{os.path.abspath(CLASSES)}:{spark_jars()}/*"


def build():
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(os.path.join(BUILD_DIR, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(STAMP) and open(STAMP).read() == digest:
            return
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.makedirs(CLASSES)
        jars = spark_jars()
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
               "scala.tools.nsc.Main", "-nowarn", "-classpath", f"{jars}/*",
               "-d", CLASSES] + files
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            raise SystemExit(f"perfbench: compile failed ({r.returncode})")
        with open(STAMP, "w") as fh:
            fh.write(digest)


if __name__ == "__main__":
    build()
