#!/usr/bin/env python3
"""Repository benchmark: builds the engine and the harness from source, then
runs one workload in one JVM at local[nproc] and relays its result.

    python3 perfbench/run.py --workload pdf_corpus --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The last stdout line is one JSON object
with the keys correct, attempted, failed and metrics. See README.md."""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
TARGET = os.path.join(HERE, "target")
WORKLOADS = ("pdf_corpus", "web_mixed", "driver_queries")
RUN_LIMIT_S = 170

# The engine build's JVM flags (build.sbt javaOptions) at SPARK_DRIVER_MEM=4g:
# the JDK 17 module opens Spark needs, UTC session time zone, UI off,
# ParallelGC and the heap-scaled young generation (4g * 5/8 -> 2g).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", p + "=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    "-Xmx4g",
    "-XX:+UseParallelGC",
    "-Xmn2g",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of every input of the build, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        die("engine sources not found under src/main: run from the root of a checkout")
    stamp = source_stamp()
    cp_file = os.path.join(TARGET, "perfbench-classpath.txt")
    stamp_file = os.path.join(TARGET, "perfbench-stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    print("perfbench: building engine + harness with sbt", file=sys.stderr)
    log_path = os.path.join(TARGET, "perfbench-build.log")
    with open(log_path, "w") as log:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log_path) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if "/classes" in l and ":" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die(f"build failed (sbt exit {rc}); log: {log_path}", 1)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-hashes", help="write the per-query result hashes to this file instead")
    args = ap.parse_args()

    cp = build()
    cores = os.cpu_count() or 1
    work = os.path.join(HERE, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + JVM_FLAGS + [
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dderby.system.home={work}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--bench", HERE, "--work", work, "--cores", str(cores)]
    if args.record_hashes:
        cmd += ["--record-hashes", os.path.abspath(args.record_hashes)]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)

    def stop(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        die("interrupted", 1)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)

    timed_out = threading.Event()

    def watchdog():
        timed_out.set()
        os.killpg(proc.pid, signal.SIGKILL)
    timer = threading.Timer(RUN_LIMIT_S, watchdog)
    timer.daemon = True
    timer.start()
    last = None
    for line in proc.stdout:
        line = line.rstrip("\n")
        if last is not None:
            print(last, flush=True)
        last = line
    rc = proc.wait()
    timer.cancel()
    try:  # the JVM's helper processes share its group; none may outlive the run
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    shutil.rmtree(work, ignore_errors=True)
    if timed_out.is_set():
        die(f"run exceeded {RUN_LIMIT_S} s", 1)
    if args.record_hashes:
        print(last)
        sys.exit(rc)
    try:
        result = json.loads(last or "")
        ok = set(result) == {"correct", "attempted", "failed", "metrics"}
    except ValueError:
        ok = False
    if rc != 0 or not ok:
        if last:
            print(last, file=sys.stderr)
        die(f"benchmark JVM failed (exit {rc})", 1)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
