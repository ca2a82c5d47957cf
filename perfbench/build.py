#!/usr/bin/env python3
"""Build of the benchmark harness: compiles the engine's sources
(`src/main/scala`) together with the harness (`perfbench/src`) with the Scala
compiler that ships in the Spark jars directory, into `.bench_build/classes`.
A stamp of every source file's path, size and content hash skips the compile
when nothing changed.

Usage: python3 perfbench/build.py            (from the repository root)
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"


def spark_jars() -> Path:
    """Jars of the Spark install: $SPARK_HOME, else the one spark-submit on
    PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: no Spark install (set SPARK_HOME)")
        home = Path(submit).resolve().parent.parent
    return Path(home) / "jars"


def sources() -> list:
    srcs = []
    for base in (ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"):
        srcs += sorted(p for p in base.rglob("*.scala") if p.is_file())
    return srcs


def classpath() -> str:
    return os.pathsep.join([str(CLASSES), str(spark_jars() / "*")])


def build() -> str:
    """Compile if needed; returns the runtime classpath. Concurrent callers
    serialize on a lock file."""
    BUILD.mkdir(parents=True, exist_ok=True)
    with open(BUILD / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build()


def _build() -> str:
    engine = ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala"
    if not engine.is_file():
        raise SystemExit(f"perfbench: engine sources not found under {ROOT / 'src'}")
    jars = spark_jars()
    if not list(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Scala compiler in {jars}")
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(hashlib.sha256(p.read_bytes()).digest())
    stamp = h.hexdigest()
    stamp_file = CLASSES / ".stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classpath()
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar")))
    args_file = BUILD / "scalac.args"
    args_file.write_text("\n".join(["-d", str(tmp), "-classpath", cp, "-nowarn"]
                                   + [str(s) for s in srcs]) + "\n")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", f"@{args_file}"]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    stamp_file.write_text(stamp)
    return classpath()


if __name__ == "__main__":
    print(build())
