#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together
with lakebench/src into .bench_build/classes, using the Scala compiler
that ships with the Spark distribution (no dependency resolution).

    python3 lakebench/build.py      # from the repository root

The build is skipped when a stamp over every source file, this file and
the Spark jar set is unchanged.
"""
import hashlib
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"
CLASSES = OUT / "classes"
STAMP = OUT / "stamp"
SOURCE_ROOTS = [ROOT / "src" / "main" / "scala", ROOT / "lakebench" / "src"]


def spark_jars():
    return Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"


def sources():
    return sorted(p for r in SOURCE_ROOTS if r.is_dir() for p in r.rglob("*.scala"))


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    for j in sorted(jars.glob("*.jar")):
        h.update(j.name.encode())
    return h.hexdigest()


def build():
    """Returns the runtime classpath; exits non-zero when it cannot build."""
    jars = spark_jars()
    files = sources()
    graft = ROOT / "src" / "main" / "scala" / "graft"
    if not graft.is_dir() or not jars.is_dir():
        sys.exit(f"lakebench: nothing to build (graft sources at {graft}, Spark jars at {jars})")
    classpath = f"{CLASSES}{os.pathsep}{jars}/*"
    want = stamp(files + [Path(__file__).resolve()], jars)
    if STAMP.exists() and STAMP.read_text() == want:
        return classpath
    subprocess.run(["rm", "-rf", str(CLASSES)], check=True)
    CLASSES.mkdir(parents=True)
    compiler = [str(next(jars.glob(f"scala-{n}-2.13*.jar"))) for n in ("compiler", "library", "reflect")]
    # no hsperfdata file under /tmp: every write stays in the checkout
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(CLASSES),
           "-classpath", f"{jars}/*"] + [str(f) for f in files]
    if subprocess.run(cmd).returncode != 0:
        sys.exit("lakebench: compilation failed")
    STAMP.write_text(want)
    return classpath


if __name__ == "__main__":
    print(build())
