"""Build file of the benchmark harness.

Compiles the library (`src/main/scala`) together with the harness
(`perfbench/src`) with the Scala compiler that ships in the Spark
distribution's `jars/` directory, into `<build>/classes`. The build is
skipped when the sources and the jar list are unchanged since the last one.

    python3 perfbench/build.py            # build into $CARGO_TARGET_DIR or .bench_build
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


class BuildError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    library's own build setting (`unmanagedBase` in build.sbt)."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            candidates.append(m.group(1))
    for c in candidates:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")) and glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    raise BuildError("no Spark distribution with a Scala compiler found (set SPARK_HOME)")


def sources():
    lib = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(lib):
        raise BuildError("library sources not found: %s" % lib)
    files = sorted(glob.glob(os.path.join(lib, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not any(f.startswith(lib) for f in files):
        raise BuildError("no library sources under %s" % lib)
    return files


def build():
    """Returns the classpath to run the harness with."""
    jars = spark_jars()
    files = sources()
    out = build_dir()
    classes = os.path.join(out, "classes")
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    digest = h.hexdigest()
    stamp = os.path.join(out, "classes.sha256")
    classpath = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classpath
    os.makedirs(out, exist_ok=True)
    fresh = classes + ".new"
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", fresh, "-classpath", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise BuildError("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(fresh, classes)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.stderr.write("build: %s\n" % e)
        sys.exit(2)
