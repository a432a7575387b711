#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library (src/main/scala) and
the benchmark's Scala code (perfbench/src) into perfbench/.build/perfbench.jar
with the Scala compiler that ships in the Spark distribution's jars directory.

The build is skipped when a stamp of every source file and of the jar list
matches the last build. Run it directly to build: `python3 perfbench/build.py`.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH, "src")
OUT = os.path.join(BENCH, ".build")
JAR = os.path.join(OUT, "perfbench.jar")
STAMP = os.path.join(OUT, "stamp")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise BuildError("no Spark distribution found: set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java found: set JAVA_HOME or put java on PATH")
    return exe


def sources():
    if not os.path.isdir(LIB_SRC):
        raise BuildError("library sources not found at src/main/scala")
    found = []
    for top in (LIB_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def classpath():
    # a jar, not a class directory, so that the JVM can archive its classes
    return os.pathsep.join([JAR, os.path.join(spark_jars(), "*")])


def build():
    """Compile when the sources changed; returns the run classpath."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for name in sorted(os.listdir(jars)):
        h.update(name.encode())
    for path in srcs:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    if os.path.exists(JAR) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return classpath()
    os.makedirs(OUT, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="classes-", dir=OUT)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    classes = os.path.join(tmp, "out")
    os.makedirs(classes)
    print(f"[perfbench] compiling {len(srcs)} Scala files", file=sys.stderr)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compilation failed")
    jar = os.path.join(tmp, "perfbench.jar")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                path = os.path.join(d, f)
                z.write(path, os.path.relpath(path, classes))
    # a class archive (see run.py) belongs to the jar it was dumped from
    for old in os.listdir(OUT):
        if old.startswith("classes.jsa"):
            os.remove(os.path.join(OUT, old))
    os.replace(jar, JAR)
    shutil.rmtree(tmp, ignore_errors=True)
    with open(STAMP, "w") as f:
        f.write(stamp + "\n")
    return classpath()


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
