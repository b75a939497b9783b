#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program and the driver.

Usage: python3 perfbench/build.py      (from the repository root)

Compiles `src/main/scala` (the program, unchanged) and `perfbench/scala`
(the benchmark driver) with the Scala compiler that ships in Spark's jar
directory ($SPARK_HOME/jars, else the one build.sbt names, else the one
beside `spark-submit` on the PATH), into `$CARGO_TARGET_DIR` (default `.bench_build`). A build is
skipped when a digest of every source file and of the jar list matches
the last successful one; that digest identifies the code a result came
from. Prints the classpath on its last line.
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
    """Spark's jar directory, which also holds the Scala compiler: the
    first of $SPARK_HOME/jars, the `unmanagedBase` that build.sbt names,
    and the jars beside `spark-submit` on the PATH."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            dirs += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if shutil.which("spark-submit"):
        bin_dir = os.path.dirname(os.path.realpath(shutil.which("spark-submit")))
        dirs.append(os.path.join(os.path.dirname(bin_dir), "jars"))
    for d in dirs:
        jars = sorted(glob.glob(os.path.join(d, "*.jar")))
        if any("scala-compiler" in os.path.basename(j) for j in jars):
            return jars
    raise SystemExit(f"build: no Spark jar directory with a Scala compiler in {dirs}")


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources(root, rel):
    files = sorted(glob.glob(os.path.join(root, rel, "**", "*.scala"), recursive=True))
    if not files:
        raise SystemExit(f"build: no Scala sources under {rel}")
    return files


def digest(files, jars, upstream):
    h = hashlib.sha256(upstream.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    return h.hexdigest()


def scalac(jars, out, classpath, files):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", os.pathsep.join(classpath), *files]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed ({r.returncode}) for {out}")


def build(root):
    """Compile what changed; return the run-time classpath and the digest
    of every source built."""
    jars = spark_jars(root)
    bdir = build_dir(root)
    steps = [("classes", "src/main/scala", []),
             ("bench-classes", "perfbench/scala", [os.path.join(bdir, "classes")])]
    d = ""
    for out, rel, extra in steps:
        files = sources(root, rel)
        out = os.path.join(bdir, out)
        stamp = out + ".stamp"
        d = digest(files, jars, d)
        if os.path.exists(stamp) and open(stamp).read() == d:
            continue
        if os.path.exists(stamp):
            os.remove(stamp)
        subprocess.run(["rm", "-rf", out], check=True)
        scalac(jars, out, extra + jars, files)
        with open(stamp, "w") as f:
            f.write(d)
    classpath = [os.path.join(bdir, "bench-classes"), os.path.join(bdir, "classes"),
                 os.path.join(root, "src", "main", "resources")] + jars
    return classpath, d


if __name__ == "__main__":
    print(os.pathsep.join(build(os.getcwd())[0]))
