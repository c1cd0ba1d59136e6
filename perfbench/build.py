#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark program (perfbench/src) with the Scala compiler against the
Spark jars the repo's build.sbt names, into <build dir>/classes.

It rebuilds only when a source file or the compiler changes (a digest in
<build dir>/classes.stamp). Run from the repo root:

    python3 perfbench/build.py [<build dir>]
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys


def scala_version(root):
    with open(os.path.join(root, "build.sbt")) as f:
        return re.search(r'scalaVersion\s*:=\s*"([^"]+)"', f.read()).group(1)


def spark_jars(root):
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    if "SPARK_HOME" not in os.environ:
        raise SystemExit("build: build.sbt names no Spark jar directory; set SPARK_HOME")
    return os.path.join(os.environ["SPARK_HOME"], "jars")


def compiler_jars(version):
    """scala-compiler/-reflect/-library jars from the local coursier cache."""
    roots = [os.environ.get("COURSIER_CACHE", ""),
             os.path.expanduser("~/.cache/coursier/v1")]
    jars = []
    for art in ("scala-compiler", "scala-reflect", "scala-library"):
        hits = [h for r in roots if r for h in glob.glob(
            f"{r}/**/org/scala-lang/{art}/{version}/{art}-{version}.jar",
            recursive=True)]
        if not hits:
            raise SystemExit(f"build: {art} {version} not found in the coursier cache")
        jars.append(hits[0])
    return jars


def sources(root):
    found = []
    for d in ("src/main/scala", "perfbench/src"):
        found += glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True)
    return sorted(found)


def ensure(root, build_dir):
    """Returns the classpath (classes dir + Spark jars), compiling first
    when the sources changed since the last build."""
    version = scala_version(root)
    jars_dir = spark_jars(root)
    srcs = sources(root)
    comp = compiler_jars(version)
    digest = hashlib.sha256(version.encode())
    for p in srcs:
        digest.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    digest = digest.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.stamp")
    cp = f"{classes}:{jars_dir}/*"
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return cp, False
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    subprocess.run(
        ["java", "-Xss16m", "-Xmx2g", "-cp", ":".join(comp),
         "scala.tools.nsc.Main", "-nowarn", "-d", classes,
         "-classpath", f"{jars_dir}/*"] + srcs,
        check=True, stdout=sys.stderr)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp, True


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    print(ensure(os.getcwd(), os.path.abspath(out))[0])
