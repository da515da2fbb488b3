"""Build file of the benchmark: compiles graft's library sources together
with the benchmark's own Scala sources, straight with the scalac that
ships among the Spark jars graft's build.sbt compiles against (its
`unmanagedBase`). The output is cached under .bench_build/, keyed by a
hash of every source file, so only the first run in a checkout compiles.

Usage: python3 perfbench/build.py   (from the repository root)
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def build_dir(root):
    return os.path.join(root, ".bench_build")


def spark_jars(root):
    """The jar directory build.sbt names as its unmanagedBase, as a
    classpath wildcard."""
    with open(os.path.join(root, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("perfbench: build.sbt names no unmanagedBase")
    return os.path.join(m.group(1), "*")


def sources(root):
    lib = os.path.join(root, "src", "main", "scala")
    own = os.path.join(HERE, "scala")
    files = sorted(glob.glob(os.path.join(lib, "**", "*.scala"), recursive=True))
    if not files:
        raise SystemExit("perfbench: no graft sources under %s; run from the "
                         "repository root" % lib)
    return files + sorted(glob.glob(os.path.join(own, "**", "*.scala"),
                                    recursive=True))


def build(root):
    """Compile if needed; return the classpath to run with."""
    files = sources(root)
    jars = spark_jars(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(build_dir(root), "classes-" + h.hexdigest()[:16])
    cp = out + os.pathsep + jars
    if os.path.isfile(os.path.join(out, ".done")):
        return cp
    for old in glob.glob(os.path.join(build_dir(root), "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xss16m", "-Xmx3g", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-cp", jars] + files
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=800)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    open(os.path.join(out, ".done"), "w").close()
    return cp


if __name__ == "__main__":
    print(build(os.getcwd()))
