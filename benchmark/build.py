"""Build file of the benchmark: compiles graft (src/main/scala) and the
benchmark's JVM program (benchmark/src) into one class directory.

It uses the Scala compiler that ships among Spark's jars, so it needs
nothing but a JDK and a Spark 4.x distribution ($SPARK_HOME, or the jar
directory build.sbt names). A build is skipped when the sources are
unchanged since the last one.

    python3 benchmark/build.py [BUILD_DIR]
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    """The jars of the Spark distribution: $SPARK_HOME/jars, else the jar
    directory graft's own build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    dirs = [os.path.join(home, "jars")] if home else []
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            dirs += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    for d in dirs:
        if os.path.isdir(d):
            return d
    raise SystemExit("build: no Spark jars found (set SPARK_HOME)")


def sources(root):
    graft_src = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(graft_src):
        raise SystemExit(f"build: graft sources not found under {graft_src}")
    files = []
    for top in (graft_src, os.path.join(BENCH_DIR, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(root, build_dir):
    """Returns the class directory, compiling first if a source changed."""
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "sources.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(spark_jars(root), "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
    print(f"build: compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return classes


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "CARGO_TARGET_DIR", ".bench_build")
    print(build(os.getcwd(), os.path.abspath(out)))
