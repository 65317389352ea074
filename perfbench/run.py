#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <batch|serve> --seed <n> \
        --seconds <s> --trace <0|1>

Builds the engine and the benchmark package from source with sbt (only
when a source changed since the last build), then runs
`perfbench.Main` in one JVM on local[N], N = the usable cores. Inputs,
outputs and Spark scratch live under `.bench_build/perfbench/` in the
checkout and are removed afterwards. The last stdout line is the result
object; everything before it is a human-readable summary.
"""

import argparse
import fcntl
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def build_inputs():
    """Every file the build reads: engine and benchmark sources and build files."""
    files = []
    for base, sub in ((ROOT, "src/main"), (HERE, "src/main")):
        for d, _, names in os.walk(os.path.join(base, sub)):
            files += [os.path.join(d, n) for n in names]
    for base in (ROOT, HERE):
        files += [os.path.join(base, "build.sbt"), os.path.join(base, "project", "build.properties")]
    return sorted(files)


def build(state_dir):
    """sbt build of the engine and the benchmark; returns the classpath."""
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala")):
        if not os.path.exists(f):
            fail(f"engine source not found ({os.path.relpath(f, ROOT)}); "
                 "run from a checkout of the repository")
    digest = hashlib.sha256()
    for f in build_inputs():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    stamp_file = os.path.join(state_dir, "build.stamp")
    cp_file = os.path.join(HERE, "target", "bench.classpath")
    with open(os.path.join(state_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        fresh = (os.path.exists(stamp_file) and os.path.exists(cp_file)
                 and open(stamp_file).read() == stamp)
        if not fresh:
            env = dict(os.environ, COURSIER_MODE="offline")
            opts = env.get("SBT_OPTS", "")
            if "-Dsbt.offline=true" not in opts:
                opts += " -Dsbt.offline=true"
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos) and "sbt.repository.config" not in opts:
                opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            env["SBT_OPTS"] = opts.strip()
            print("[perfbench] building engine and benchmark with sbt", file=sys.stderr)
            try:
                r = subprocess.run(
                    ["sbt", "-batch", "-Dsbt.log.noformat=true", "benchClasspath"],
                    cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=sys.stderr,
                    timeout=BUILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                fail("build timed out")
            if r.returncode != 0 or not os.path.exists(cp_file):
                fail(f"build failed (sbt exit {r.returncode})")
            with open(stamp_file, "w") as fh:
                fh.write(stamp)
    with open(cp_file) as fh:
        return fh.read().strip()


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    build_root = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    state_dir = os.path.join(build_root, "perfbench")
    os.makedirs(state_dir, exist_ok=True)
    classpath = build(state_dir)

    work = os.path.join(state_dir, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # a fixed heap size, so heap growth does not slow the first iterations
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false"]
           + [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--cores", str(cores())])
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    # a terminated launcher still stops the JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(2))
    last = None
    try:
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s")
        lines = out.splitlines()
        for line in lines[:-1]:
            print(line)
        last = lines[-1] if lines else None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        trace_files = [f for f in os.listdir(work) if f.startswith("trace-")] if os.path.isdir(work) else []
        for f in trace_files:
            shutil.copy(os.path.join(work, f), os.path.join(state_dir, f))
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or last is None or not last.startswith("{"):
        fail(f"benchmark JVM exited with {proc.returncode} and no result")
    print(last)


if __name__ == "__main__":
    main()
