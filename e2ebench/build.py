#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine's sources
(`src/main/scala`) together with the harness (`e2ebench/src`) using the Scala
compiler shipped in Spark's jar directory, into `<build dir>/classes`.

A stamp of the source hashes makes a rebuild a no-op when nothing changed.
Run from the repository root: `python3 e2ebench/build.py`."""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the first `../jars` of a
    PATH entry that holds the Scala compiler."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else \
        [os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep) if d]
    for home in homes:
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return os.path.join(jars, "*")
    sys.exit("no Scala compiler in Spark's jar directory; set SPARK_HOME")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "e2ebench/src/**/*.scala"), recursive=True))
    if not main:
        sys.exit("no engine sources under src/main/scala: run from the repository root")
    return main + bench


def build(root="."):
    """Compile if needed; return the runtime classpath."""
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    bdir = os.path.join(root, BUILD_DIR)
    out = os.path.join(bdir, "classes")
    jar = os.path.join(bdir, "graft-e2ebench.jar")
    stamp_file = os.path.join(bdir, "classes.stamp")
    jars = spark_jars()
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        for stale in (stamp_file, jar, cds_archive(root)):
            if os.path.exists(stale):
                os.remove(stale)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
               "-nowarn", "-d", out, "-classpath", jars] + srcs
        if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
            sys.exit("compile failed")
        # a jar, not the class directory: only classes loaded from jars go
        # into the class-data-sharing archive run.py keeps
        if subprocess.run(["jar", "cf", jar, "-C", out, "."]).returncode != 0:
            sys.exit("jar failed")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return jars + os.pathsep + jar


def cds_archive(root="."):
    """Class-data-sharing archive of the loaded Spark and engine classes:
    written by the first run after a build, mapped by every later run, so a
    run's JVM start-up does not re-parse and re-verify the same classes."""
    return os.path.join(root, BUILD_DIR, "classes.jsa")


if __name__ == "__main__":
    print(build())
