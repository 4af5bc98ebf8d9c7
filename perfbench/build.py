"""Compile the program and the benchmark harness into one class directory.

The program's sources (src/main/scala) and the harness sources
(perfbench/scala) are compiled together with the Scala compiler that
ships among the Spark jars. The output lands in .bench_build/ at the
root of the checkout and is reused until any source changes.

Usage: python3 perfbench/build.py   (run from the root of a checkout)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
SOURCE_ROOTS = ["src/main/scala", "perfbench/scala"]


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the build's own
    unmanagedBase setting."""
    home = os.environ.get("SPARK_HOME")
    if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
        return os.path.join(home, "jars")
    if os.path.exists("build.sbt"):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
        if m and glob.glob(os.path.join(m.group(1), "spark-core_*.jar")):
            return m.group(1)
    raise SystemExit("build: no Spark jars found (set SPARK_HOME)")


def sources():
    files = []
    for root in SOURCE_ROOTS:
        for dirpath, _, names in os.walk(root):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Returns the classpath to run the harness with."""
    srcs = sources()
    if not any(s.startswith("src/") for s in srcs):
        raise SystemExit("build: no program sources under src/main/scala")
    jars = spark_jars()
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(s.encode())
        digest.update(open(s, "rb").read())
    stamp = digest.hexdigest()
    classes = os.path.join(BUILD_DIR, "classes")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    cp = f"{os.path.abspath(classes)}:{jars}/*"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    tmp = os.path.join(BUILD_DIR, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", f"{jars}/*"] + srcs
    print(f"build: compiling {len(srcs)} files", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit("build: compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    print(build())
