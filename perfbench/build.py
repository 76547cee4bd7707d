#!/usr/bin/env python3
"""Compile the program and the benchmark for perfbench.

The program's sources (src/main/scala) and the benchmark's own sources
(perfbench/src) are compiled together with the Scala compiler that ships in
the Spark distribution ($SPARK_HOME/jars, or that of spark-submit on PATH) into
perfbench/build/classes. A stamp holding a hash of every source file skips
the compile when nothing changed.

    python3 perfbench/build.py          # build if needed, print the classes dir
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / "build"
CLASSES = BUILD / "classes"
STAMP = BUILD / "stamp"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", HERE / "src"]
RESOURCES = ROOT / "src" / "main" / "resources"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """$SPARK_HOME/jars, or the jars of the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    jars = Path(home or ".") / "jars"
    if not any(jars.glob("spark-core_*.jar")):
        raise BuildError(f"no Spark jars in {jars}: set SPARK_HOME")
    return jars


def sources() -> list:
    missing = [d for d in SOURCE_DIRS if not d.is_dir()]
    if missing:
        raise BuildError("missing source directories: " + ", ".join(str(d.relative_to(ROOT)) for d in missing))
    scala = [p for d in SOURCE_DIRS for p in d.rglob("*.scala")]
    resources = [p for p in RESOURCES.rglob("*") if p.is_file()] if RESOURCES.is_dir() else []
    return sorted(scala + resources)


def source_hash(files) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(b"\0")
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build() -> tuple:
    """Return (classes dir, source hash), compiling first when stale."""
    files = sources()
    digest = source_hash(files)
    if STAMP.exists() and STAMP.read_text().strip() == digest and CLASSES.is_dir():
        return CLASSES, digest
    jars = spark_jars()
    staging = BUILD / f"staging-{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    (staging / "classes").mkdir(parents=True)
    argfile = staging / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files if f.suffix == ".scala") + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(staging / "classes"), "@" + str(argfile)]
    print(f"[perfbench] compiling {digest}", file=sys.stderr)
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        raise BuildError(f"scalac exited with {done.returncode}")
    for f in files:
        if f.suffix != ".scala":
            target = staging / "classes" / f.relative_to(RESOURCES)
            target.parent.mkdir(parents=True, exist_ok=True)
            shutil.copyfile(f, target)
    shutil.rmtree(CLASSES, ignore_errors=True)
    (staging / "classes").rename(CLASSES)
    shutil.rmtree(staging, ignore_errors=True)
    STAMP.write_text(digest + "\n")
    return CLASSES, digest


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
