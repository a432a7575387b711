#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                             [--size full|tiny]

Builds the library and the benchmark's Scala code first when their sources
changed (see build.py), then runs perfbench.Main in one JVM on local[nproc].
The last stdout line is one JSON object with the keys correct, attempted,
failed and metrics; the whole run record, with every job sample and the
traced spans, is written to perfbench/.work/results/. The exit code is 0
only when every job's output passed its check.
"""
import argparse
import os
import shutil
import subprocess
import sys
import tempfile
import time

import build

WORKLOADS = ["pagerank-er", "cc-gnm", "triangles-rmat", "als-planted"]
JVM_TIMEOUT_S = 165
HEAP = "4g"
# More JIT compiler threads than the JVM's default for 4 cores (3): the
# first jobs of a fresh process are compile-bound, and 6 threads flatten
# the job times after warm-up (see README.md).
JIT_THREADS = 6

# What spark-submit adds on JDK 17 when the session is created in-process.
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

WORK = os.path.join(build.BENCH, ".work")
ARCHIVE = os.path.join(build.OUT, "classes.jsa")
NO_ARCHIVE = ARCHIVE + ".none"


def main_cmd(java, cp, scratch, jvm_extra, args):
    """The JVM command line that runs perfbench.Main with `args`."""
    return [java, f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+AlwaysPreTouch",
            f"-XX:CICompilerCount={JIT_THREADS}", "-XX:-UsePerfData", *ADD_OPENS, *jvm_extra,
            f"-Djava.io.tmpdir={scratch}",
            f"-Dspark.local.dir={scratch}",
            f"-Dspark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main", *args]


def class_archive(java, cp):
    """The class-data-sharing archive of the classes a tiny run loads, or
    None. It is dumped once per build, by a tiny pagerank-er run, and
    shortens every later JVM start; build.py deletes it on a rebuild.
    """
    if not os.path.exists(ARCHIVE) and not os.path.exists(NO_ARCHIVE):
        print("[perfbench] dumping the class archive", file=sys.stderr)
        os.makedirs(WORK, exist_ok=True)
        scratch = tempfile.mkdtemp(prefix="archive-", dir=WORK)
        part = ARCHIVE + ".part"
        args = ["--workload", "pagerank-er", "--seed", "1", "--seconds", "1", "--trace", "0",
                "--size", "tiny", "--launch-ms", str(int(time.time() * 1000)),
                "--out", os.path.join(scratch, "result.json")]
        try:
            subprocess.run(main_cmd(java, cp, scratch, [f"-XX:ArchiveClassesAtExit={part}"], args),
                           cwd=scratch, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                           timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
        if os.path.exists(part):
            os.replace(part, ARCHIVE)
        else:
            open(NO_ARCHIVE, "w").close()
    return ARCHIVE if os.path.exists(ARCHIVE) else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    a = ap.parse_args()

    try:
        cp = build.build()
        java = build.java()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    archive = class_archive(java, cp)

    launch_ms = int(time.time() * 1000)
    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    results = os.path.join(WORK, "results")
    os.makedirs(scratch, exist_ok=True)
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}-{a.size}.json")
    cmd = main_cmd(java, cp, scratch, [f"-XX:SharedArchiveFile={archive}"] if archive else [],
                   ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace), "--size", a.size,
                    "--launch-ms", str(launch_ms), "--out", out])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            cwd=scratch)
    try:
        stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"[perfbench] run exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if lines and lines[-1].startswith("{"):
        print(lines[-1])
    return proc.returncode if proc.returncode != 0 else (0 if lines else 1)


if __name__ == "__main__":
    sys.exit(main())
