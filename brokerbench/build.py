#!/usr/bin/env python3
"""Build file of the broker benchmark.

Compiles the library sources (`src/main/scala` of the repository) together
with the benchmark's own sources (`brokerbench/src`) into
`.bench_build/classes`, using the Scala compiler that ships with the Spark
distribution (`$SPARK_HOME/jars`, the same jars build.sbt compiles against).
No sbt, no dependency resolution. A stamp over every source file's bytes skips the
compile when nothing changed.

    python3 brokerbench/build.py        # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
SCALA = "2.13.17"


class BuildError(Exception):
    pass


def _sources():
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    missing = [d for d in dirs if not os.path.isdir(d)]
    if missing:
        raise BuildError("missing source directories: " + ", ".join(missing))
    files = []
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build_dir():
    return os.path.join(ROOT, ".bench_build")


def build():
    """Compile if the sources changed; return the classes directory."""
    files = _sources()
    compiler = [os.path.join(SPARK_JARS, f"scala-{p}-{SCALA}.jar")
                for p in ("compiler", "library", "reflect")]
    for jar in compiler:
        if not os.path.isfile(jar):
            raise BuildError(f"Scala compiler jar not found: {jar}")
    digest = hashlib.sha256(SCALA.encode())
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args_file = os.path.join(build_dir(), "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss16m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath",
           os.path.join(SPARK_JARS, "*"), "-d", out, "@" + args_file]
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0:
        raise BuildError(f"scalac failed with exit code {proc.returncode}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
