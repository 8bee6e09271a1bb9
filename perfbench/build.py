"""Build file of the benchmark package: compiles the engine's sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`)
into one class directory, with the Scala compiler that ships among the
Spark jars. No sbt involved, so a fresh checkout builds in ~40 s.

    python3 perfbench/build.py            # prints the class directory

The build is skipped when a stamp over every source file matches the
last successful build.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("perfbench: no Spark jars with a Scala compiler "
                         "(set SPARK_HOME)")
    return jars


def sources():
    found = []
    for base in (ENGINE_SRC, os.path.join(BENCH, "src")):
        for dirpath, _, files in os.walk(base):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    """Compile if needed; return the class directory."""
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"perfbench: engine sources not found at {ENGINE_SRC}")
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    jars = spark_jars()
    staging = classes + ".new"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", staging, "-classpath", cp] + srcs
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
