#!/usr/bin/env python3
"""Broker-under-load benchmark: one command, two workloads.

    python3 brokerbench/run.py --workload serve_routed --seed 1 --seconds 15 --trace 0

Builds the library and the benchmark (brokerbench/build.py), then runs one
JVM that serves generated tables through graft.pql.BrokerServer and drives it
over HTTP. The last stdout line is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`. Everything the run generates lives in a
fresh directory under `.bench_run/` that is deleted on exit; `--trace 1`
writes its spans to `.bench_traces/`. See brokerbench/README.md.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import tempfile

import build

WORKLOADS = ("serve_routed", "ingest_serve")
JAVA_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def ram_mb():
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        ap.error("--seconds must be positive")
    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    ram = ram_mb()
    heap = min(ram // 2, 4096)  # never more than half the machine's RAM
    run_parent = os.path.join(build.ROOT, ".bench_run")
    os.makedirs(run_parent, exist_ok=True)
    root = tempfile.mkdtemp(prefix="run-", dir=run_parent)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd += [f"-Xmx{heap}m", f"-Xms{heap}m", "-XX:+UseG1GC", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(root, "tmp"),
            "-cp", classes + os.pathsep + os.path.join(build.SPARK_JARS, "*"),
            "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--root", root, "--ram-mb", str(ram), "--heap-mb", str(heap),
            "--trace-dir", os.path.join(build.ROOT, ".bench_traces")]
    os.makedirs(os.path.join(root, "tmp"))
    proc = subprocess.Popen(cmd, start_new_session=True)
    # a SIGTERM to this process must still stop the JVM (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return proc.wait(timeout=JAVA_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"benchmark JVM exceeded {JAVA_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
