#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

Usage (from the repository root):
  python3 perfbench/run.py --workload mapreduce|dedup|index_churn \
      --seed N --seconds S --trace 0|1

Builds the library and the benchmark first if a source changed (see
build.py), then runs the workload in one JVM on local[<cores>]. The last
line of standard output is one JSON object with the keys correct,
attempted, failed and metrics: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. The traced run also writes its spans and
a per-call report under perfbench/out/. The JVM's log goes to
perfbench/out/<workload>-<seed>-<trace>.log.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
WORKLOADS = ("mapreduce", "dedup", "index_churn")
TIME_LIMIT_S = 170
# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# spark-submit would pass (org.apache.spark.launcher.JavaModuleOptions).
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# index_churn's calls run through a large body of driver-side code (query
# planning, snapshot manifests) that C2 keeps compiling through every timed
# pass: its compiler threads took a third of the JVM's CPU there, and how
# far they had got, which depends on how much CPU the host left them, set
# the pass time. With C1 only the code is compiled within the warm-up pass
# and the passes run at one speed. The mapreduce calls are a few hot loops
# that C2 compiles within the warm-up pass; C1 would run them ~1.7x slower.
JIT_FLAGS = {"index_churn": ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=512m"]}


def kill(proc: subprocess.Popen) -> None:
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    started = time.monotonic()

    build = subprocess.run([sys.executable, str(BENCH / "build.py")],
                           stdout=subprocess.PIPE, text=True)
    if build.returncode != 0:
        print("perfbench: build failed", file=sys.stderr)
        return build.returncode or 1
    classpath = build.stdout.strip().splitlines()[-1]

    out = BENCH / "out"
    work = BENCH / ".runs" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    out.mkdir(parents=True, exist_ok=True)
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    log_path = out / f"{a.workload}-{a.seed}-{a.trace}.log"
    cmd = (["java"] + [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           JIT_FLAGS.get(a.workload, []) +
           ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", classpath,
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", str(work), "--out", str(out)])
    result = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                    start_new_session=True)
            watchdog = threading.Timer(
                max(1.0, TIME_LIMIT_S - (time.monotonic() - started)), kill, (proc,))
            watchdog.start()
            try:
                for line in proc.stdout:
                    if line.startswith('{"correct"'):
                        result = line.strip()
                    else:
                        sys.stdout.write(line)
                        sys.stdout.flush()
                proc.wait()
            finally:
                watchdog.cancel()
                if proc.poll() is None:
                    kill(proc)
                proc.wait()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        runs = BENCH / ".runs"
        if runs.is_dir() and not any(runs.iterdir()):
            runs.rmdir()

    if proc.returncode != 0 or result is None:
        sys.stderr.write(log_path.read_text()[-4000:])
        print(f"perfbench: run failed (exit {proc.returncode})", file=sys.stderr)
        return 1
    parsed = json.loads(result)
    if set(parsed) != {"correct", "attempted", "failed", "metrics"}:
        print("perfbench: malformed result line", file=sys.stderr)
        return 1
    print(result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
