#!/usr/bin/env python3
"""Build file of graftbench: compiles the engine and the benchmark.

    python3 graftbench/build.py

Compiles src/main/scala together with graftbench/src in one scalac pass,
with the Scala compiler that ships in Spark's jars ($SPARK_HOME/jars),
into .bench_build/graftbench/classes, and prints that directory. The
classes are reused while no source file changes.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "graftbench"


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        sys.exit("graftbench: set SPARK_HOME to a Spark 4 install (its jars/ holds the Scala compiler)")
    return Path(home) / "jars"


def sources():
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        sys.exit(f"graftbench: no engine sources at {engine.relative_to(ROOT)}")
    return sorted(engine.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))


def build(jars):
    """Compiles engine and benchmark when their sources changed."""
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    classes = BUILD / "classes"
    stamp_file = BUILD / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    log(f"compiling {len(files)} sources")
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files))
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", str(tmp), f"@{argfile}"],
        stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    if proc.returncode != 0:
        sys.exit("graftbench: compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    print(build(spark_jars()))
