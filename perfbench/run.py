#!/usr/bin/env python3
"""Build and run the engine benchmark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload ingest_churn --seed 1 --seconds 5 --trace 0

The first run in a checkout compiles the engine's sources together with
the benchmark (sbt, offline) into .bench_build/; later runs reuse the
build while the sources are unchanged. Each run starts one JVM, prints
a detail line and then, as its last line, the result object
{"correct", "attempted", "failed", "metrics"}. It exits non-zero when an
operation or an output check failed, or when the engine's sources are
missing.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
# Class-data-sharing archive of the classes a run loads: written at the
# exit of the first run after a build, mapped by every later run, so that
# JVM and Spark start-up and the untimed first set-up load fewer classes
# from the jars. Timed phases follow the warm-up, which has loaded their
# classes either way.
CDS_ARCHIVE = os.path.join(BUILD, "classes.jsa")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("ingest_churn", "curate_corpus")
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 800
SBT_REPOS = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
SBT_FLAGS = [
    "-Dsbt.log.noformat=true",
    "-Dsbt.offline=true",
    "-Dsbt.server.autostart=false",
] + (["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + SBT_REPOS]
     if os.path.exists(SBT_REPOS) else [])
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group and kills the group on timeout,
    or when this script is asked to stop (SIGTERM, SIGINT, SIGHUP)."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"stopped by signal {signum}", 128 + signum)

    handlers = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP)}
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} timed out after {timeout} s", 3)
    finally:
        for s, h in handlers.items():
            signal.signal(s, h)
    return p.returncode, out


def classpath():
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    code, out = run_group(
        ["sbt", "--batch", "-Djava.io.tmpdir=" + tmp] + SBT_FLAGS
        + ["compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stderr=sys.stderr, text=True)
    if code != 0:
        sys.stderr.write(out)
        fail("build failed", 4)
    lines = [l for l in out.splitlines() if l and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath", 4)
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail("engine sources not found under src/main/scala/graft")

    cp = classpath()
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = ["java", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData",
            "-Xlog:disable", "-Xlog:all=warning:stderr"]
    dump = CDS_ARCHIVE + ".new"
    if os.path.exists(CDS_ARCHIVE):
        java.append("-XX:SharedArchiveFile=" + CDS_ARCHIVE)
    else:
        java.append("-XX:ArchiveClassesAtExit=" + dump)
    for p in ADD_OPENS:
        java += ["--add-opens", p + "=ALL-UNNAMED"]
    java += [
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--artifacts", os.path.join(BUILD, "artifacts"),
    ]
    try:
        code, out = run_group(java, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                              stderr=sys.stderr, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if os.path.exists(dump):
        if code == 0:
            os.replace(dump, CDS_ARCHIVE)
        else:
            os.remove(dump)
    lines = out.strip().splitlines()
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.stdout.write(out)
        fail(f"the benchmark printed no result (exit {code})", code or 5)
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(code)


if __name__ == "__main__":
    main()
