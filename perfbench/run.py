#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload cdc_daily --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark from source (see build.py), then runs
the workload in one JVM (`perfbench.Main`). The JVM's Spark log goes to
`.bench_build/logs/`; its stdout (a detail record, then the result) is
passed through. Exits non-zero, printing no result, when the build, the
run or the result line fails.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("cdc_daily", "lake_query", "curation")
RUN_LIMIT_S = 175
HEAP = "2g"
YOUNG = "768m"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")

    try:
        cp = build.build()
    except build.BuildError as e:
        print("run: " + str(e), file=sys.stderr)
        return 2
    started = time.monotonic()

    work = os.path.join(build.BUILD_DIR, "work")
    logs = os.path.join(build.BUILD_DIR, "logs")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(logs, "%s-seed%d-trace%d.log" % (
        a.workload, a.seed, a.trace))
    # A fixed, pre-touched heap on huge pages with fixed generation sizes:
    # without them, op medians of identical runs drifted 20-30 % apart
    # from one JVM to the next on a 4-core VM.
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Xmn" + YOUNG,
           "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
           "-XX:+AlwaysPreTouch", "-XX:+UseTransparentHugePages",
           "-Xss4m", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false"] + build.java_opts() + [
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--out", build.BUILD_DIR]

    # Spark prefers these to spark.local.dir; the run keeps its temporary
    # files inside the checkout.
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    lines = []
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True, env=env)
        try:
            deadline = RUN_LIMIT_S - (time.monotonic() - started)
            out, _ = proc.communicate(timeout=max(deadline, 1))
            lines = out.splitlines()
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            print("run: the workload exceeded %d s" % RUN_LIMIT_S,
                  file=sys.stderr)
            return 3
    if proc.returncode != 0 or not lines:
        print("run: the JVM exited with code %d; log: %s" % (
            proc.returncode, log_path), file=sys.stderr)
        return 4
    try:
        result = json.loads(lines[-1])
    except ValueError:
        print("run: the last line is not JSON: " + lines[-1][:200],
              file=sys.stderr)
        return 5
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("run: the result has the wrong keys", file=sys.stderr)
        return 5
    for line in lines:
        print(line)
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
