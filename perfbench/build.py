#!/usr/bin/env python3
"""Build file of the benchmark package: compiles graft's main sources and
the harness under perfbench/src with the Scala compiler that ships among
the Spark jars build.sbt names (`unmanagedBase`), into
.bench_build/classes-<source hash>/ of the checkout. A build whose source
hash is already there is reused.

Usage: python3 perfbench/build.py   (from the root of a checkout)
Prints the classes directory on success.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit(f"perfbench: no graft sources under {root}/src/main/scala")
    if not bench:
        raise SystemExit(f"perfbench: no harness sources under {root}/perfbench/src")
    return main, bench


def spark_jars_dir(root):
    """The unmanaged jar directory build.sbt compiles graft against."""
    path = os.path.join(root, "build.sbt")
    if not os.path.isfile(path):
        raise SystemExit(f"perfbench: {path} not found")
    with open(path) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench: build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def spark_classpath(jar_dir):
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler-") for j in jars):
        raise SystemExit(f"perfbench: no Scala compiler among the jars in {jar_dir}")
    return jars


def scalac(jars, classpath, out, files):
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", os.pathsep.join(classpath)] + files
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-8000:])
        raise SystemExit(f"perfbench: compile failed ({len(files)} files)")


def build(root):
    """Returns (classes directory, Spark jars) for the sources in `root`."""
    main, bench = sources(root)
    jars = spark_classpath(spark_jars_dir(root))
    digest = hashlib.sha256()
    for f in main + bench:
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    build_dir = os.path.join(root, ".bench_build")
    classes = os.path.join(build_dir, "classes-" + digest.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes, jars
    tmp = classes + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        scalac(jars, jars, tmp, main)
        scalac(jars, [tmp] + jars, tmp, bench)
        os.rename(tmp, classes)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        if old != classes:
            shutil.rmtree(old, ignore_errors=True)
    return classes, jars


if __name__ == "__main__":
    print(build(os.getcwd())[0])
