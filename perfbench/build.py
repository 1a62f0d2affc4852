"""Build file of the benchmark: compiles graft's main sources together
with the benchmark's own Scala sources into one class directory, with
the Scala compiler that ships among the Spark jars. A build is skipped
when the sources, resources and JDK are unchanged since the last one.

Usage: python3 perfbench/build.py [build_dir]   (from the repo root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

SOURCE_ROOTS = ["src/main/scala", "perfbench/src"]
RESOURCES = "src/main/resources"


def spark_homes():
    """$SPARK_HOME, then the distribution of every spark-submit on PATH
    (pip's pyspark puts a spark-submit on PATH with no jars beside it)."""
    if os.environ.get("SPARK_HOME"):
        yield os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = os.path.join(d, "spark-submit")
        if os.path.isfile(exe):
            yield os.path.dirname(os.path.dirname(os.path.realpath(exe)))


def spark_jars():
    for home in spark_homes():
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if jars:
            return jars
    raise SystemExit("perfbench build: no Spark distribution found (set SPARK_HOME)")


def sources():
    out = []
    for root in SOURCE_ROOTS:
        if not os.path.isdir(root):
            raise SystemExit(f"perfbench build: source directory {root} is missing")
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def resources():
    out = []
    for d, _, files in os.walk(RESOURCES):
        out += [os.path.join(d, f) for f in files]
    return sorted(out)


def stamp(files, jars):
    h = hashlib.sha256()
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    h.update(java.encode())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    """Returns (classes_dir, classpath list, seconds spent compiling)."""
    jars = spark_jars()
    srcs = sources()
    res = resources()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    want = stamp(srcs + res, jars)
    if os.path.isfile(stamp_file) and open(stamp_file).read() == want:
        return classes, jars, 0.0
    t0 = time.monotonic()
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.pathsep.join(jars), "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench build: scalac failed with code {r.returncode}")
    for f in res:
        dst = os.path.join(classes, os.path.relpath(f, RESOURCES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with open(stamp_file, "w") as f:
        f.write(want)
    return classes, jars, time.monotonic() - t0


if __name__ == "__main__":
    d = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".bench_build")
    os.makedirs(d, exist_ok=True)
    c, _, s = build(d)
    print(f"built {c} in {s:.1f} s")
