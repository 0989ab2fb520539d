#!/usr/bin/env python3
"""Run one benchmark run of the graft engine and print its result.

    python3 perfbench/run.py --workload mr_text|dedup \
        --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds the
engine's sources together with the harness under perfbench/src (sbt,
offline, into perfbench/target) and later runs reuse that build while
the sources are unchanged. The seed's inputs are generated once into
perfbench/.work/data/<seed>/ and never timed. Then one JVM sets up a
session, runs a first pass and warm passes for S seconds, checks every
pass's output and prints one JSON line, which is also the last line
printed here:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
and writes the spans to perfbench/.work/traces/. The JVM's log goes to
perfbench/.work/logs/. Exit status is 0 only when a result was printed.
"""

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)
import gen  # noqa: E402

ENGINE_SOURCES = os.path.join(ROOT, "src", "main")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800
# Fixed here, not inherited: the heap and task slots change what a pass
# measures. A fixed-size heap (-Xms = -Xmx) keeps the JVM from resizing
# it differently run to run.
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def task_slots():
    """One task slot per usable core, at most four: the same work on any
    machine, and never more slots than cores."""
    return max(1, min(4, len(os.sched_getaffinity(0))))


def source_digest():
    h = hashlib.sha256()
    tops = [ENGINE_SOURCES, os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the sources are unchanged since the last
    build; returns the runtime classpath."""
    stamp = os.path.join(WORK, "build.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            done = json.load(f)
        if done.get("digest") == digest:
            return done["classpath"]
    log("building (sbt compile)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime / fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=BUILD_LIMIT_S)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if not lines:
        raise SystemExit("perfbench: sbt printed no classpath")
    classpath = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    log(f"built in {time.time() - t0:.1f}s")
    return classpath


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def main():
    ap = argparse.ArgumentParser(description="Run one graft benchmark run.")
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SOURCES, "scala", "graft")):
        raise SystemExit(f"perfbench: no engine sources under {ENGINE_SOURCES}; "
                         "run from the root of a source checkout")
    # one run at a time per checkout: runs share the build, the inputs
    # and the run directory, and would also disturb each other's timing
    os.makedirs(WORK, exist_ok=True)
    lock = open(os.path.join(WORK, "lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    classpath = build()
    data = gen.generate(a.seed, os.path.join(WORK, "data", str(a.seed)), a.workload)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    rundir = os.path.join(WORK, "run", a.workload)
    shutil.rmtree(rundir, ignore_errors=True)
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(task_slots()))
    cmd = [java_bin(), f"-Xms{HEAP}", f"-Xmx{HEAP}",
           *[f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS],
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-Dspark.ui.enabled=false",
           "-cp", classpath, "graftbench.Main",
           "--workload", a.workload, "--data", data,
           "--out", os.path.join(rundir, "out"),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--trace-out", os.path.join(WORK, "traces", f"{tag}.json")]
    logpath = os.path.join(WORK, "logs", f"{tag}.log")
    with open(logpath, "w") as logf:
        cmd += ["--launch-ns", str(time.time_ns())]
        proc = subprocess.Popen(cmd, cwd=rundir, env=env, stdin=subprocess.DEVNULL,
                                stdout=subprocess.PIPE, stderr=logf, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"perfbench: run exceeded {RUN_LIMIT_S}s; log in {logpath}")
    shutil.rmtree(rundir, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        with open(logpath) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: JVM exited {proc.returncode}; log in {logpath}")
    result = json.loads(lines[-1])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
