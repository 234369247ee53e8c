#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the benchmark
harness from source with sbt (once per source state; later runs reuse the
build), then runs one workload in a fresh JVM inside a fresh scratch
directory under `.bench_build/`, and removes that directory afterwards. A
traced run (`--trace 1`) also leaves its spans and Spark jobs, one JSON
line each, in `.bench_build/traces/`.
The last line of standard output is the result object; the exit code is 0
only when every output check passed.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("etl_cron", "cdc_upsert")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
HEAP = "2g"


def source_stamp():
    """Hash of every input of the build: program and harness sources."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src", os.path.basename(HERE)]
    for top in tops:
        path = os.path.join(ROOT, top)
        if os.path.isfile(path):
            walk = [(ROOT, [], [top])]
        else:
            walk = os.walk(path)
        for d, dirs, files in walk:
            dirs[:] = sorted(x for x in dirs if x not in ("target", ".bsp")
                             and not (x == "project" and os.path.basename(d) == "project"))
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, cwd, limit, stdout, stderr):
    """Runs `cmd` in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build():
    """Returns (classpath, jvm options), building first when sources changed."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("perfbench: no program build at %s" % ROOT)
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    fresh = (os.path.exists(launch) and os.path.exists(stamp_file)
             and open(stamp_file).read() == stamp)
    if not fresh:
        os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
        log_path = os.path.join(BUILD, "build.log")
        env_opts = os.environ.get("SBT_OPTS", "")
        os.environ["SBT_OPTS"] = (env_opts + " -Djava.io.tmpdir=" + os.path.join(BUILD, "tmp")).strip()
        with open(log_path, "w") as log:
            code = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                             HERE, BUILD_LIMIT_S, log, subprocess.STDOUT)
        if code != 0 or not os.path.exists(launch):
            with open(log_path) as log:
                sys.stderr.write("".join(log.readlines()[-40:]))
            raise SystemExit("perfbench: build failed")
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    lines = open(launch).read().splitlines()
    return lines[0], lines[1:]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    classpath, jvm_opts = build()
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(BUILD, "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = (["java"] + jvm_opts +
           ["-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch", "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--root", run_dir, "--cores", str(cores),
            "--trace-out", os.path.join(BUILD, "traces", "%s-seed%d.jsonl" % (a.workload, a.seed))])
    out_path = os.path.join(BUILD, "runs", os.path.basename(run_dir) + ".out")
    t0 = time.time()
    try:
        with open(out_path, "w") as out:
            code = run_group(cmd, run_dir, RUN_LIMIT_S, out, sys.stderr)
        lines = open(out_path).read().splitlines()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        if os.path.exists(out_path):
            os.remove(out_path)
    if code is None:
        raise SystemExit("perfbench: run exceeded %d s" % RUN_LIMIT_S)
    if not lines or not lines[-1].startswith("{"):
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        raise SystemExit("perfbench: run exited %s without a result" % code)
    sys.stderr.write("perfbench: %s seed %d ran %.1f s\n" % (a.workload, a.seed, time.time() - t0))
    print("\n".join(lines))
    sys.stdout.flush()
    return 0 if code == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
