#!/usr/bin/env python3
"""Build the program and the benchmark's JVM code with scalac, without sbt.

Usage: python3 perfbench/build.py [OUT_DIR]      (default: .bench_build)

Run from the repository root. Compiles src/main/scala into OUT_DIR/classes
and perfbench/src into OUT_DIR/bench-classes, both against the Spark jars
directory that build.sbt names as its `unmanagedBase` (which also holds
the Scala compiler). A step whose inputs are unchanged is skipped.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    """The jars directory build.sbt compiles against."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase jars directory")
    return m.group(1)


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def stamp(root, files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(jars_cp, classpath, srcs, out, log):
    """Compile `srcs` into `out`, replacing it; False on a compile error."""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars_cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath] + srcs
    with open(log, "w") as fh:
        return subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT).returncode == 0


def build(root, out):
    """Build both class trees under `out`; returns (classpath, error)."""
    src_main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(src_main):
        return None, "no src/main/scala under " + root
    jars = spark_jars(root)
    jar_files = sorted(glob.glob(os.path.join(jars, "*.jar")))
    if not jar_files:
        return None, "no jars in " + jars
    jars_cp = os.pathsep.join(jar_files)
    os.makedirs(out, exist_ok=True)
    main_out = os.path.join(out, "classes")
    bench_out = os.path.join(out, "bench-classes")
    steps = [(sources(src_main), main_out, jars_cp),
             (sources(os.path.join(HERE, "src")), bench_out,
              os.pathsep.join([main_out, jars_cp]))]
    upstream = "\n".join(jar_files)
    for srcs, dest, cp in steps:
        key = stamp(root, srcs, upstream)
        stamp_file = dest + ".stamp"
        if os.path.exists(stamp_file) and open(stamp_file).read() == key:
            upstream = key
            continue
        if os.path.exists(stamp_file):
            os.remove(stamp_file)
        log = dest + ".log"
        if not scalac(jars_cp, cp, srcs, dest, log):
            return None, "compile failed, see " + log
        with open(stamp_file, "w") as fh:
            fh.write(key)
        upstream = key
    return os.pathsep.join([bench_out, main_out, os.path.join(jars, "*")]), None


if __name__ == "__main__":
    cp, err = build(os.getcwd(), sys.argv[1] if len(sys.argv) > 1 else ".bench_build")
    if err:
        sys.exit(err)
    print(cp)
