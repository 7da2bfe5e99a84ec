#!/usr/bin/env python3
"""Benchmark entry point: builds the benchmark (once per source state), then
runs one workload in a fresh JVM and relays its output.

    python3 perfbench/run.py --workload bulk_crawl --seed 1 --seconds 10 --trace 0

Run it from the repository root. The last line of standard output is the
result object. The build uses sbt in perfbench/ and compiles the program's
own sources from src/main; a run writes only under perfbench/target and
removes its scratch directory when it ends.
"""
import argparse
import fcntl
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "build-stamp.txt")
WORKLOADS = ("bulk_crawl", "curate")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of every input of the build: the program's and the benchmark's
    sources and the benchmark's build definition."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
             os.path.join(BENCH, "project", "build.properties"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    os.makedirs(TARGET, exist_ok=True)
    with open(os.path.join(TARGET, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
            return
        print("perfbench: building", file=sys.stderr)
        # resolve from the local caches only, as the program's own build does
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        if "SBT_OPTS" not in env and os.path.exists(repos):
            env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                               f"-Dsbt.repository.config={repos}")
        try:
            res = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                                 cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                                 timeout=BUILD_TIMEOUT_S, start_new_session=True)
        except subprocess.TimeoutExpired:
            die("build timed out", 1)
        if res.returncode != 0 or not os.path.exists(CLASSPATH):
            die("build failed", 1)
        with open(STAMP, "w") as fh:
            fh.write(stamp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        die("--seconds must be at least 1")
    knobs = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
    if knobs:
        die("refusing to run with " + ", ".join(knobs) + " set")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"program sources not found under {os.path.join(ROOT, 'src', 'main')}")

    build()
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    work = os.path.join(TARGET, "runs", f"{a.workload}-{os.getpid()}-{int(time.time())}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    trace_out = os.path.join(TARGET, "traces", f"{a.workload}-seed{a.seed}.jsonl")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # no perf-data file in the system temp dir: a run writes only in its checkout
    cmd = [java, "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work-dir", work, "--trace-out", trace_out]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        die("run timed out", 1)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out.decode("utf-8", "replace"))
    sys.stdout.flush()
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
