#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the library's sources (`src/main/scala`) together with the
benchmark's own (`perfbench/src`) with the Scala compiler that ships in
Spark's jar directory (`$SPARK_HOME/jars`), into `perfbench/.build/classes`.
A digest of every source file is kept beside the classes, so a rebuild
happens only when a source changed.

Usage: python3 perfbench/build.py   (from the repository root)
Prints the runtime classpath on its last line.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = BENCH / ".build"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", BENCH / "src"]
RESOURCES = ROOT / "src" / "main" / "resources"


def spark_jars() -> Path:
    """The Spark install's jars: $SPARK_HOME, else the one spark-submit is in."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        sys.exit("build: set SPARK_HOME to a Spark 4 install with a jars/ directory")
    return Path(home) / "jars"


def sources() -> list:
    missing = [str(d) for d in SOURCE_DIRS if not d.is_dir()]
    if missing:
        sys.exit(f"build: source directory missing: {', '.join(missing)}")
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def digest(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath(jars: Path) -> str:
    return os.pathsep.join([str(OUT / "classes"), str(RESOURCES), str(jars / "*")])


def build() -> str:
    jars = spark_jars()
    files = sources()
    stamp = digest(files)
    stamp_file = OUT / "digest"
    if stamp_file.is_file() and stamp_file.read_text() == stamp and (OUT / "classes").is_dir():
        return classpath(jars)
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args_file = OUT / "sources.txt"
    args_file.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp), f"@{args_file}"]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-20000:])
        sys.exit(f"build: scalac failed with exit code {res.returncode}")
    shutil.rmtree(OUT / "classes", ignore_errors=True)
    tmp.rename(OUT / "classes")
    stamp_file.write_text(stamp)
    return classpath(jars)


if __name__ == "__main__":
    print(build())
