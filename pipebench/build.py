#!/usr/bin/env python3
"""Build file of the pipeline benchmark.

Compiles graft's main sources (``src/main/scala`` of the checkout) together
with the benchmark's own sources (``pipebench/src``) into
``.bench_build/classes`` with the Scala compiler that ships among the Spark
jars: the ``unmanagedBase`` directory the repository's ``build.sbt``
compiles against, or else ``$SPARK_HOME/jars``. No network, no sbt.

The build is skipped when a stamp of every source file, the compiler and
these flags matches the last successful build.

    python3 pipebench/build.py        # prints the classpath to run with
"""
import hashlib
import os
import re
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"
CLASSES = OUT / "classes"
STAMP = OUT / "classes.stamp"
FLAGS = ["-nowarn", "-Ybackend-parallelism", "4"]


def spark_jars() -> Path:
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if m:
        return Path(m.group(1))
    if "SPARK_HOME" in os.environ:
        return Path(os.environ["SPARK_HOME"]) / "jars"
    raise SystemExit("build: no unmanagedBase in build.sbt and no SPARK_HOME")


def sources() -> list:
    dirs = [ROOT / "src" / "main" / "scala", ROOT / "pipebench" / "src"]
    for d in dirs:
        if not d.is_dir():
            raise SystemExit(f"build: missing source directory {d}")
    return sorted(p for d in dirs for p in d.rglob("*.scala"))


def classpath() -> str:
    return f"{CLASSES}{os.pathsep}{spark_jars() / '*'}"


def build() -> str:
    srcs = sources()
    jars = spark_jars()
    if not list(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"build: no Scala compiler among the jars in {jars}")
    h = hashlib.sha256()
    h.update(" ".join(FLAGS).encode())
    for j in sorted(jars.glob("scala-*.jar")):
        h.update(j.name.encode())
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    if STAMP.exists() and STAMP.read_text() == stamp and CLASSES.is_dir():
        return classpath()
    OUT.mkdir(parents=True, exist_ok=True)
    if CLASSES.exists():
        subprocess.run(["rm", "-rf", str(CLASSES)], check=True)
    CLASSES.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-usejavacp", *FLAGS, "-d", str(CLASSES), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with exit code {r.returncode}")
    STAMP.write_text(stamp)
    return classpath()


if __name__ == "__main__":
    print(build())
