#!/usr/bin/env python3
"""Run one benchmark workload of the graft CDC engine.

    python3 perfbench/run.py --workload live_dashboard|restatement \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the engine and the harness from
source (perfbench/build.sh) on first use, then runs the workload in one
JVM with a fresh state directory and a fresh java.io.tmpdir under
.bench_run/, and removes that directory afterwards. Spans and the full
summary of the run are kept under .bench_out/<workload>-seed<N>-trace<T>/.

The last line of standard output is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Any failure to build or run exits non-zero without printing a result.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("live_dashboard", "restatement")
RUN_LIMIT_S = 170  # the whole run, build excluded
BUILD_LIMIT_S = 800

# Spark on JDK 17 outside spark-submit needs the module openings that
# spark-submit would pass (JavaModuleOptions.defaultModuleOptions()).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def run_bounded(cmd, limit_s, **kw):
    """Run cmd in its own process group; kill the group on timeout.
    Returns (returncode, stdout) with returncode None on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=limit_s)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    build_root = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    build_dir = os.path.join(root, build_root, "perfbench")
    code, _ = run_bounded(
        ["bash", os.path.join(root, "perfbench", "build.sh"), build_dir],
        BUILD_LIMIT_S, stdout=sys.stderr)
    if code != 0:
        print(f"perfbench: build failed ({code})", file=sys.stderr)
        return 2

    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(root, ".bench_run", f"{name}-{os.getpid()}")
    out = os.path.join(root, ".bench_out", name)
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(tmp)
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.path.join(build_dir, "classes") + os.pathsep
              + os.path.join(jars, "*"),
              "perfbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--work", work, "--out", out])
    t0 = time.monotonic()
    try:
        code, stdout = run_bounded(cmd, RUN_LIMIT_S, stdout=subprocess.PIPE,
                                   text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not stdout:
        print(f"perfbench: run failed ({'timeout' if code is None else code})",
              file=sys.stderr)
        return 1
    lines = stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        print("perfbench: no result line", file=sys.stderr)
        return 1
    for line in lines[:-1]:
        print(line)
    print(f"wall {time.monotonic() - t0:.1f}s, trace in {out}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
