#!/usr/bin/env python3
"""CDC pipeline benchmark entry point.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload trickle --seed 1 --seconds 15 --trace 0

Builds the engine together with the benchmark once per checkout (sbt,
into .bench_build/), then runs the Scala benchmark
(graft.perfbench.Main) in one JVM on local[4]. Its last stdout
line is a JSON object {correct, attempted, failed, metrics}; this script
repeats it as its own last line and exits non-zero when the run failed
or the correctness check did not hold.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

WORKLOADS = ("trickle", "cascade")
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 needs these outside spark-submit (the same list as the
# engine's build.sbt, org.apache.spark.launcher.JavaModuleOptions).
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
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def source_digest():
    """Digest of every input of the build, so an edited checkout rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source digest; returns the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            got, cp = fh.read().split("\n", 1)
        if got == digest:
            return cp.strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    t0 = time.time()
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    with open(log) as fh:
        lines = fh.read().splitlines()
    if p.returncode != 0:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {p.returncode}), see {log}")
    cp = [ln for ln in lines if ln.startswith("/") and ".jar" in ln]
    if not cp:
        fail(f"build printed no classpath, see {log}")
    with open(stamp, "w") as fh:
        fh.write(digest + "\n" + cp[-1])
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr,
          flush=True)
    return cp[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repro", choices=("manifest-race",),
                    help="run the manifest-race reproduction instead")
    a = ap.parse_args()
    if not a.repro and (a.workload is None or a.seconds is None):
        ap.error("--workload and --seconds are required")
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC, ROOT)}")
    if shutil.which("java") is None:
        fail("java is not on PATH")
    cp = build()
    work = os.path.join(BUILD, "work", f"{a.workload or a.repro}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xmx2g", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp]
           + (["graft.perfbench.ManifestRace", work, str(a.seed)] if a.repro else
              ["graft.perfbench.Main",
               "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", str(a.trace),
               "--work", work, "--traces", os.path.join(BUILD, "traces")]))
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    timed_out = []

    def kill():
        timed_out.append(True)
        os.killpg(proc.pid, signal.SIGKILL)

    watchdog = threading.Timer(RUN_TIMEOUT_S, kill)
    watchdog.start()
    result = None
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{") and '"metrics"' in line:
                result = line
            else:
                print(line, file=sys.stderr, flush=True)
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if timed_out:
        fail(f"benchmark JVM ran past {RUN_TIMEOUT_S}s and was killed", 1)
    if a.repro:
        sys.exit(proc.returncode)
    if result is None:
        fail(f"benchmark JVM exited {proc.returncode} without a result", 1)
    print(result, flush=True)
    ok = proc.returncode == 0 and json.loads(result)["correct"]
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
