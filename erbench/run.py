#!/usr/bin/env python3
"""End-to-end ER benchmark: builds the program and the benchmark driver from
source, runs one workload and prints its metrics as the last stdout line.

Usage (from the repository root):
    python3 erbench/run.py --workload er_scale --seed 1 --seconds 20 --trace 0

See erbench/README.md for the workloads and metrics.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
LAUNCH = os.path.join(BENCH, "target", "launch.txt")
STAMP = os.path.join(BENCH, "target", "launch.stamp")
EXPECTED = os.path.join(BENCH, "expected_digests.txt")
BUILD_TIMEOUT_S = 840
RUN_DEADLINE_S = 175  # per invocation, after the build


def log(msg):
    print(f"erbench: {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads from this checkout."""
    h = hashlib.sha256(ROOT.encode())  # launch.txt holds absolute paths
    roots = [PROGRAM_SRC, os.path.join(BENCH, "src", "main"), os.path.join(BENCH, "project")]
    files = [os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_child(cmd, cwd, timeout, **kw):
    """Runs cmd in its own process group; on timeout kills the whole group."""
    proc = subprocess.Popen(cmd, cwd=cwd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    return proc.returncode, out


def build():
    """Compiles the program and the driver with sbt unless the sources are
    unchanged since the last build; returns the JVM launch arguments."""
    stamp = source_stamp()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == stamp:
                with open(LAUNCH) as fh2:
                    return fh2.read().split("\n")
    log("building program and benchmark with sbt")
    rc, _ = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                      BENCH, BUILD_TIMEOUT_S, stdout=sys.stderr)
    if rc != 0 or not os.path.exists(LAUNCH):
        log(f"build failed (sbt exit code {rc})")
        sys.exit(2)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    with open(LAUNCH) as fh:
        return fh.read().split("\n")


def run_jvm(launch, a, deadline):
    """One benchmark JVM; returns (info, result) parsed from its last two
    stdout lines. Exits the script when the JVM fails, prints no result or
    is still running at `deadline` (a time.time() value)."""
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, "-Xmx3g", f"-Djava.io.tmpdir={tmp}"] + launch + [
        "erbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
        "--expected", EXPECTED]
    t0 = time.time()
    try:
        rc, out = run_child(cmd, ROOT, max(1.0, deadline - t0), stdout=subprocess.PIPE, text=True)
    except subprocess.TimeoutExpired:
        log(f"benchmark did not finish within {RUN_DEADLINE_S} s")
        sys.exit(3)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        info, result = json.loads(lines[-2]), json.loads(lines[-1])
    except (IndexError, ValueError):
        info = result = None
    if rc != 0 or result is None or "correct" not in result:
        sys.stderr.write(out)
        log(f"benchmark JVM failed (exit code {rc}) after {time.time() - t0:.1f} s")
        sys.exit(rc or 4)
    return info, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    a = ap.parse_args()

    if not os.path.isdir(PROGRAM_SRC):
        log(f"program sources not found under {PROGRAM_SRC}")
        sys.exit(2)
    launch = build()

    info, result = run_jvm(launch, a, time.time() + RUN_DEADLINE_S)
    print(json.dumps(info))
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
