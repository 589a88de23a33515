"""Compile graft (src/main) and the benchmark (perfbench/src) into one class dir.

Uses the Scala compiler that ships with the Spark distribution, so it needs
no build tool, no network and no writes outside the checkout:

    python3 perfbench/build.py          # prints the class directory

Output goes to `.bench_build/perfbench/` at the checkout root. A stamp of the
sources' hash skips the compile when nothing changed.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
GRAFT_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory graft's own build.sbt names."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        if m is None:
            raise SystemExit("build: set SPARK_HOME (build.sbt names no unmanagedBase)")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit(f"build: no Spark jars under {jars}")
    return jars


def sources():
    if not os.path.isdir(GRAFT_SRC):
        raise SystemExit(f"build: graft sources not found at {GRAFT_SRC}")
    files = []
    for base in (GRAFT_SRC, BENCH_SRC):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def resources():
    if not os.path.isdir(GRAFT_RES):
        return []
    return sorted(p for p in glob.glob(os.path.join(GRAFT_RES, "**", "*"), recursive=True)
                  if os.path.isfile(p))


def stamp(files, jars):
    h = hashlib.sha256()
    h.update(jars.encode())
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Returns (class dir, Spark jars dir), compiling when sources changed."""
    jars = spark_jars()
    srcs = sources()
    res = resources()
    digest = stamp(srcs + res, jars)
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == digest:
                return classes, jars
    staging = os.path.join(BUILD, "classes.new")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={BUILD}", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", staging, "-classpath", cp, "@" + argfile]
    print("build: compiling %d Scala files" % len(srcs), file=sys.stderr, flush=True)
    rc = subprocess.run(cmd, stdout=sys.stderr).returncode
    if rc != 0:
        raise SystemExit(f"build: scalac failed with exit code {rc}")
    for p in res:
        dst = os.path.join(staging, os.path.relpath(p, GRAFT_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(staging, classes)
    with open(stamp_file, "w") as f:
        f.write(digest)
    return classes, jars


if __name__ == "__main__":
    print(build()[0])
