#!/usr/bin/env python3
"""Benchmark entry point.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark drivers from the checkout's sources with sbt (the package in this
directory) into .bench_build/; later runs start the driver JVM directly. The last line of stdout is the result JSON;
build and engine logs go to stderr.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

WORKLOADS = ("lake_upsert", "corpus_prepare")
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "graftbench")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JVM_FLAGS = [
    "-Xmx3g",
    "-XX:+UseParallelGC",
    "-Dspark.ui.enabled=false",
    "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
] + [
    flag
    for pkg in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
    )
    for flag in ("--add-opens", pkg + "=ALL-UNNAMED")
]


def log(msg):
    print("[graftbench] " + msg, file=sys.stderr, flush=True)


def sources_mtime():
    """Newest modification time over everything the build reads."""
    newest = 0.0
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = [x for x in dirs if x != "target"]
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
              os.path.abspath(__file__)):
        newest = max(newest, os.path.getmtime(f))
    return newest


def run_group(cmd, cwd, timeout, stdout):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr,
                         start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def jar_dir(src, dst):
    """Zips a class directory into a jar: the class-data-sharing archive
    below accepts jars only."""
    with zipfile.ZipFile(dst, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in os.walk(src):
            for f in sorted(files):
                full = os.path.join(d, f)
                z.write(full, os.path.relpath(full, src))


def driver_cmd(cp, workload, seed, seconds, trace, work, extra=()):
    """The driver JVM; its temporary files (native libraries Spark
    extracts, session artifacts) stay inside the run's work directory."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return (["java"] + JVM_FLAGS + list(extra) +
            ["-Djava.io.tmpdir=" + os.path.join(work, "tmp")] +
            ["-cp", cp, "graftbench.Main", "--workload", workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", str(trace), "--work-dir", work])


def build():
    """Compiles with sbt, jars the class directories, and records a
    class-data-sharing archive of a short training run: every measured
    run then starts its JVM from the archive instead of loading and
    verifying the engine's classes from scratch."""
    log("building engine and benchmark with sbt")
    t0 = time.time()
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        HERE, BUILD_TIMEOUT_S, subprocess.PIPE)
    lines = [l for l in (out or "").splitlines() if l.strip()]
    if code != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out or "")
        raise SystemExit("build failed (sbt exit %s)" % code)
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(os.path.join(BUILD, "jars"))
    cp = []
    for i, entry in enumerate(lines[-1].split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(BUILD, "jars", "%02d.jar" % i)
            jar_dir(entry, jar)
            entry = jar
        cp.append(entry)
    cp = os.pathsep.join(cp)
    work = os.path.join(BUILD, "training")
    code, _ = run_group(driver_cmd(cp, "corpus_prepare", 0, 1, 0, work,
                                   ["-XX:ArchiveClassesAtExit=" + ARCHIVE]),
                        ROOT, RUN_TIMEOUT_S, subprocess.DEVNULL)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(ARCHIVE):
        raise SystemExit("class-data-sharing training run failed (exit %s)" % code)
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    log("build done in %.1f s" % (time.time() - t0))
    return cp


def classpath():
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= sources_mtime():
        with open(CLASSPATH) as f:
            return f.read().strip()
    return build()


def main():
    # a SIGTERM unwinds through run_group, which kills the child's process
    # group and waits for it, instead of leaving the JVM running
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit("run from the root of a graft checkout: %s is missing" % need)

    cp = classpath()
    work = os.path.join(BUILD, "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        code, out = run_group(
            driver_cmd(cp, a.workload, a.seed, a.seconds, a.trace, work,
                       ["-XX:SharedArchiveFile=" + ARCHIVE]),
            ROOT, RUN_TIMEOUT_S, subprocess.PIPE)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in (out or "").splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if code != 0 or not lines:
        raise SystemExit("benchmark driver failed (exit %s)" % code)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit("malformed result line: %s" % lines[-1])
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
