#!/usr/bin/env python3
"""Build file of the benchmark harness.

Compiles the graft library (the repository's src/main/scala) together
with the harness sources under src/ into one class directory, with the
Scala compiler that ships in Spark's jars directory. A stamp of every
source's digest skips the compile when nothing changed.

Usage: python3 benchmark/harness/build.py [out_dir]
"""
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(os.path.dirname(HERE))


def spark_jars():
    """Spark's jars directory, $SPARK_HOME/jars."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.environ.get("SPARK_HOME") or not os.path.isdir(jars):
        raise SystemExit("no Spark jars found: set SPARK_HOME")
    return jars


def sources():
    found = []
    for top in (os.path.join(REPO, "src", "main", "scala"), os.path.join(HERE, "src")):
        if not os.path.isdir(top):
            raise SystemExit(f"missing source tree {top}")
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def digest(paths):
    h = hashlib.sha256()
    for p in paths + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, REPO).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(out):
    """Returns the class directory, compiling first when sources changed."""
    jars = spark_jars()
    srcs = sources()
    stamp = os.path.join(out, "stamp")
    classes = os.path.join(out, "classes")
    want = digest(srcs)
    if os.path.exists(stamp) and open(stamp).read() == want:
        return classes
    if os.path.exists(stamp):
        os.remove(stamp)
    os.makedirs(classes, exist_ok=True)
    cp = sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))
    scala = [j for j in cp if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", ":".join(scala),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-cp", ":".join(cp), "@" + argfile]
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    with open(stamp, "w") as f:
        f.write(want)
    return classes


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, ".bench_build")))
