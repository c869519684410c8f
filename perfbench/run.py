#!/usr/bin/env python3
"""Lifecycle benchmark of the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ask_session --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark driver from source (sbt, offline) the
first time and whenever a source file changes, then runs one workload in a
fresh driver JVM with a local Spark session of at most `nproc` cores. Every
file the run writes stays inside the checkout: the build under
perfbench/target, the run's stores under perfbench/work (deleted when the
run ends), traced runs' spans under perfbench/out. The last line of
standard output is the result object; anything that goes wrong exits
non-zero without printing one.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("ask_session", "curation_batch")
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "perfbench-classpath.txt")
STAMP = os.path.join(TARGET, "perfbench-sources.sha256")
RUN_LIMIT_S = 175
# The JDK 17 module opens Spark needs outside spark-submit (the engine's
# build.sbt passes the same list to its forked JVMs).
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
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def parse_args():
    nproc = os.cpu_count() or 1
    p = argparse.ArgumentParser(description="graft lifecycle benchmark")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", required=True)
    p.add_argument("--seconds", required=True)
    p.add_argument("--trace", required=True)
    p.add_argument("--cores", default=str(min(4, nproc)))
    a = p.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload!r}; expected one of {', '.join(WORKLOADS)}")
    for name, lo, hi in (("seed", 0, 2**63 - 1), ("seconds", 1, 600), ("trace", 0, 1),
                         ("cores", 1, nproc)):
        raw = getattr(a, name)
        try:
            v = int(raw)
        except ValueError:
            fail(f"--{name} must be an integer, got {raw!r}")
        if not lo <= v <= hi:
            fail(f"--{name} must be in [{lo}, {hi}], got {v}")
        setattr(a, name, v)
    return a


def sources():
    """Every file the build reads: the engine's and the driver's sources
    and both build definitions."""
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def read(path):
    try:
        with open(path) as fh:
            return fh.read().strip()
    except OSError:
        return None


def build(deadline):
    """Compile with sbt unless the sources are unchanged since the last
    build; returns the driver's classpath."""
    fp = fingerprint()
    if read(STAMP) == fp and read(CLASSPATH):
        return read(CLASSPATH)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "") + " -Dsbt.offline=true"
    # the same resolver override the engine's own test command defaults to
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "sbt.repository.config" not in opts and os.path.isfile(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    # every JVM sbt starts keeps its temporary files in the build directory
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}"
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={os.path.join(TARGET, 'sbt-global')}",
           "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    log = os.path.join(BENCH, "build.log")
    with open(log, "w") as out:
        code = wait(subprocess.Popen(cmd, cwd=BENCH, env=env, stdout=out,
                                     stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                     start_new_session=True), deadline)
    lines = open(log).read().splitlines()
    cp = [l for l in lines if l.startswith("/") and "scala-2.13/classes" in l]
    if code != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {code}); see {log}", 3)
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(cp[-1])
    with open(STAMP, "w") as fh:
        fh.write(fp)
    return cp[-1]


def wait(proc, deadline):
    """Waits for `proc`; kills its whole process group at the deadline
    (or when this script is interrupted) and waits for it to end."""
    try:
        return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        print("perfbench: time limit reached, stopping", file=sys.stderr)
        return -1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def main():
    a = parse_args()
    start = time.monotonic()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"the engine's sources (build.sbt, src/main/scala/graft) are not in {ROOT}", 3)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # a first build may take long; the run itself then gets the usual
    # limit, so a first run ends within 900 s and any other within 180 s
    cp = build(start + 720)
    work = os.path.join(BENCH, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "index"):
        os.makedirs(os.path.join(work, sub))
    out_dir = os.path.join(BENCH, "out")
    os.makedirs(out_dir, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(a.cores),
            "--work", work, "--out", out_dir]
    env = dict(os.environ, GRAFT_INDEX_DIR=os.path.join(work, "index"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    stdout = os.path.join(work, "driver.out")
    try:
        with open(stdout, "w") as out:
            code = wait(subprocess.Popen(cmd, cwd=work, env=env, stdout=out,
                                         stdin=subprocess.DEVNULL, start_new_session=True),
                        time.monotonic() + RUN_LIMIT_S)
        lines = open(stdout).read().splitlines()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if code != 0 or not isinstance(result, dict) or set(result) != {
            "correct", "attempted", "failed", "metrics"}:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        fail(f"driver exited with {code} and no result", 1)
    for line in lines:
        print(line)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
