#!/usr/bin/env python3
"""Run one benchmark workload against the graft engine in this checkout.

Usage (from the root of the checkout):

    python3 perfbench/run.py --workload live|corpus --seed N \
        --seconds S --trace 0|1 [--size full|tiny]

The first call builds the product sources together with the benchmark's
(sbt, in perfbench/) and caches the runtime classpath; later calls start
the JVM directly. The last line of standard output is one JSON object:
with --trace 0 the end-to-end metrics, with --trace 1 the per-layer ones
(spans go to perfbench/out/). Exit code 0 only when the run completed.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PRODUCT_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "sources.sha256")
WORK = os.path.join(HERE, "work")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

# What spark-submit would add on JDK 17 (the product's build.sbt uses the
# same list for its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Hash of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    roots = [PRODUCT_SRC, os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_child(cmd, cwd, timeout, stdout):
    """Run cmd, killing it (and only it) on timeout or interruption."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    log("building product + benchmark sources (sbt compile)")
    rc = run_child(["sbt", "-batch", "-J-XX:-UsePerfData",
                    "-Dsbt.server.autostart=false", "compile",
                    "writeClasspath"], HERE,
                   BUILD_TIMEOUT_S, sys.stderr)
    if rc != 0 or not os.path.exists(CLASSPATH):
        raise SystemExit(f"[perfbench] build failed (exit {rc})")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def heap_mb():
    """3 GiB, or a quarter of the host's memory when that is less."""
    try:
        with open("/proc/meminfo") as fh:
            total_kb = int(fh.readline().split()[1])
        return max(1024, min(3072, total_kb // 4096))
    except (OSError, ValueError, IndexError):
        return 3072


def java(main_class, args=()):
    """The JVM command line for one of the benchmark's mains."""
    with open(CLASSPATH) as fh:
        cp = os.pathsep.join(line.strip() for line in fh if line.strip())
    # -UsePerfData: no hsperfdata files outside the checkout
    cmd = ["java", f"-Xmx{heap_mb()}m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, main_class, *args]


def fresh_work():
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(PRODUCT_SRC, "graft")):
        log(f"no product sources under {os.path.relpath(PRODUCT_SRC, ROOT)}")
        return 2
    build()
    fresh_work()
    cmd = java("graft.perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace, "--size", a.size])
    try:
        return run_child(cmd, ROOT, RUN_TIMEOUT_S, sys.stdout)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
