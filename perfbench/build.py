"""Build file of the benchmark: compiles the program and the benchmark.

The program's sources (`src/main/scala`) and the benchmark's own
(`perfbench/src`, plus `perfbench/tests` for the self-tests) are compiled
with the Scala compiler that ships in Spark's jar directory: the directory
build.sbt names as `unmanagedBase`, so the benchmark builds against the
same jars as the program (or `$SPARK_HOME/jars` when build.sbt names
none). Classes go under `.bench_build/` in the checkout and are rebuilt
only when a source file changes.

Usage: python3 perfbench/build.py [--tests]
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m:
        return m.group(1)
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise SystemExit("perfbench: build.sbt names no unmanagedBase and SPARK_HOME is unset")


def sources(tests=False):
    main = glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True)
    if not main:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    own = glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
    if tests:
        own += glob.glob(os.path.join(HERE, "tests", "**", "*.scala"), recursive=True)
    return sorted(main + own)


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(spark_jars(), "*")])


def build(tests=False):
    """Compile if any source changed; return the classes directory."""
    srcs = sources(tests)
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    classes = os.path.join(BUILD, "test-classes" if tests else "classes")
    stamp = os.path.join(classes, ".sources.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", jars,
           "-d", classes, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-20000:])
        raise SystemExit("perfbench: compilation failed")
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return classes


if __name__ == "__main__":
    print(build(tests="--tests" in sys.argv))
