"""Build file of the graft benchmark.

Compiles the program (`src/main/scala`, plus its `src/main/resources`) and
the benchmark harness (`graftbench/src`) with the Scala compiler that ships
among the Spark jars the project builds against, into `.bench_build/`. A
build is reused while no source file changed.

    python3 graftbench/build.py        # from the repository root
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
HARNESS = os.path.join(ROOT, "graftbench", "src")


def spark_jars():
    """The jar directory build.sbt names (`unmanagedBase`), else $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    for d in ([m.group(1)] if m else []) + [os.path.join(os.environ.get("SPARK_HOME", ""), "jars")]:
        if d and os.path.isdir(d):
            return d
    raise SystemExit("graftbench: no Spark jar directory (build.sbt unmanagedBase or $SPARK_HOME/jars)")


def classpath(jars):
    return sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))


def sources():
    out = []
    for top in (PROGRAM, HARNESS):
        for d, _, fs in os.walk(top):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    for d, _, fs in sorted(os.walk(RESOURCES)):
        for f in sorted(fs):
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if needed; returns (classes dir, runtime classpath list)."""
    for need in (PROGRAM, os.path.join(ROOT, "build.sbt")):
        if not os.path.exists(need):
            raise SystemExit(f"graftbench: {os.path.relpath(need, ROOT)} not found; "
                             "run from the root of a graft checkout")
    jars = classpath(spark_jars())
    files = sources()
    key = stamp(files)
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == key:
        return classes, jars
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-d", classes, "-classpath", os.pathsep.join(jars)] + files))
    print(f"graftbench: compiling {len(files)} sources", file=log)
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(jars),
                        "scala.tools.nsc.Main", "@" + argfile],
                       stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit("graftbench: compile failed")
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, classes, dirs_exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(key)
    return classes, jars


if __name__ == "__main__":
    print(build()[0])
