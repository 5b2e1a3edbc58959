#!/usr/bin/env python3
"""Run one benchmark workload and print its result line.

    python3 perfbench/run.py --workload refit|corpus --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt and keeps a copy of the compiled classes
under .bench_build/, keyed by a hash of the sources; later runs of the same
sources start the JVM on that copy directly. The last line of stdout is the
JSON result; Spark's log goes to stderr.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("refit", "corpus")
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}
HEAP = "3g"
BUILD_TIMEOUT_S = 700  # with the run limit, a first run ends within 900 s
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit (as the engine's build sets)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# what the build reads: the engine's sources and build, and the benchmark's
BUILD_INPUTS = [
    os.path.join(ROOT, "build.sbt"),
    os.path.join(ROOT, "project", "build.properties"),
    os.path.join(ROOT, "src", "main"),
    os.path.join(BENCH, "build.sbt"),
    os.path.join(BENCH, "project", "build.properties"),
    os.path.join(BENCH, "src", "main"),
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def preflight():
    """Name the first missing input once and stop."""
    for path in BUILD_INPUTS:
        if not os.path.exists(path):
            fail(f"missing input: {os.path.relpath(path, ROOT)} "
                 "(run from the root of a full checkout)")
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            fail(f"missing tool on PATH: {tool}")


def source_hash():
    h = hashlib.sha256()
    for path in BUILD_INPUTS:
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath(digest):
    """The classpath of a build of these exact sources.

    Each digest owns its build: the class directories sbt compiles into
    (target/ in the engine and the benchmark) are copied under
    .bench_build/perfbench/build-<digest>/ and the classpath points at the
    copies. A later build of other sources, or an sbt clean, cannot change
    what a cached digest runs. Jars (the Spark distribution, the library
    cache) are referenced in place."""
    cache = os.path.join(WORK, f"build-{digest[:16]}")
    cp_file = os.path.join(cache, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            cp = fh.read().strip()
        if all(os.path.exists(e) for e in cp.split(os.pathsep)):
            return cp
        shutil.rmtree(cache, ignore_errors=True)
    print("perfbench: building with sbt", file=sys.stderr)
    sbt_tmp = os.path.join(WORK, "sbt-tmp")  # sbt's socket and watch dirs
    os.makedirs(sbt_tmp, exist_ok=True)
    # sbt binds a unix socket under its temp dir; in a checkout whose path is
    # long, that name does not fit a socket address, and sbt, taking the
    # failed bind for another booting server, exits. forcestart lets it
    # build without that socket. The build resolves offline, from the
    # library cache only, whatever the calling shell sets.
    env = dict(os.environ, COURSIER_MODE="offline")
    try:
        out = subprocess.run(
            ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.server.forcestart=true",
             "-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
             f"-Djava.io.tmpdir={sbt_tmp}", "export Runtime / fullClasspath"], cwd=BENCH,
            env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
            timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"build did not finish within {BUILD_TIMEOUT_S} s")
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        fail("build failed")
    # copy into a staging dir, then rename it into place in one step
    staging = tempfile.mkdtemp(prefix="staging-", dir=WORK)
    entries = []
    for i, entry in enumerate(lines[-1].split(os.pathsep)):
        if os.path.isdir(entry):
            shutil.copytree(entry, os.path.join(staging, f"classes-{i}"))
            entry = os.path.join(cache, f"classes-{i}")
        entries.append(entry)
    cp = os.pathsep.join(entries)
    with open(os.path.join(staging, "classpath.txt"), "w") as fh:
        fh.write(cp)
    try:
        os.rename(staging, cache)
    except OSError:  # another run cached the same digest first
        shutil.rmtree(staging, ignore_errors=True)
    return cp


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none"
    out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                         capture_output=True, text=True)
    return out.stdout.strip() or "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    preflight()
    digest = source_hash()
    cp = classpath(digest)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # no perf-data file: the JVM would otherwise write it to /tmp
    cmd = [java, f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    cmd += [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", run_dir, "--source-sha", digest, "--git-sha", git_sha(),
            "--launch-ms", str(int(time.time() * 1000))]
    # Spark binds to loopback: the run is local and needs no other interface
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1")
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run did not finish within {RUN_TIMEOUT_S} s")
    finally:
        # also on SIGTERM: never leave the JVM running behind us
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with code {proc.returncode}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail("benchmark JVM printed no result line")
    if set(result) != RESULT_KEYS:
        fail("malformed result line")
    for line in lines:
        print(line)


if __name__ == "__main__":
    main()
