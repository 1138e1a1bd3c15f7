#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program
(`src/main/scala`) together with the harness (`perfbench/src`) with the
Scala compiler that ships with Spark, into `<build>/classes`.

    python3 perfbench/build.py [--build-dir .bench_build]

The build is skipped when a stamp over every source file still matches.
Spark's jar directory comes from SPARK_HOME, else from the installed
pyspark package. Prints the classpath the harness runs with.
"""

import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SOURCE_ROOTS = [os.path.join(REPO, "src", "main", "scala"), os.path.join(HERE, "src")]

# the JDK 17 module openings Spark needs outside spark-submit (the same
# list the repo's build passes to forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        jars_dir = os.path.join(home, "jars")
    else:
        import pyspark
        jars_dir = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    if not jars:
        raise SystemExit("no Spark jars found (set SPARK_HOME)")
    return jars


def sources():
    out = []
    for root in SOURCE_ROOTS:
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    resources = os.path.join(REPO, "src", "main", "resources")
    return sorted(out), resources


def stamp(files, jars):
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, REPO).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    return h.hexdigest()


def java_opts():
    return [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]


def build(build_dir):
    """Compile if stale; return the runtime classpath."""
    build_dir = os.path.abspath(build_dir)
    classes = os.path.join(build_dir, "classes")
    jars = spark_jars()
    files, resources = sources()
    want = stamp(files, jars)
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == want):
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        if os.path.exists(stamp_file):
            os.remove(stamp_file)
        argfile = os.path.join(build_dir, "scalac.args")
        with open(argfile, "w") as f:
            f.write("\n".join(["-nowarn", "-d", classes, "-classpath", ":".join(jars)] + files))
        cmd = ["java", "-Xss16m", "-Xmx3g", "-cp", ":".join(jars),
               "scala.tools.nsc.Main", "@" + argfile]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit("compile failed")
        if os.path.isdir(resources):
            shutil.copytree(resources, classes, dirs_exist_ok=True)
        with open(stamp_file, "w") as f:
            f.write(want)
    return ":".join([classes] + jars)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--build-dir", default=".bench_build")
    a = ap.parse_args()
    print(build(a.build_dir))


if __name__ == "__main__":
    main()
