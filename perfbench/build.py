#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library sources of this
checkout (`src/main/scala`) together with the benchmark's own code
(`perfbench/src/main/scala`) with the Scala compiler that ships in Spark's
jars, into `.perfbench/build/<source hash>/`. A tree that was already built
is reused, so only the first run after a change compiles.

Usage: build.py            (prints the runtime classpath)
"""
import hashlib
import os
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
STATE = ROOT / ".perfbench"


def spark_jars() -> Path:
    """Spark's jars directory: under $SPARK_HOME, or beside the first
    `spark-submit` on PATH whose installation ships the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME")] + [
        str(Path(d).resolve().parent) for d in os.environ.get("PATH", "").split(os.pathsep)
        if (Path(d) / "spark-submit").is_file()]
    for home in filter(None, homes):
        jars = Path(home) / "jars"
        if any(jars.glob("scala-compiler-*.jar")) and any(jars.glob("spark-core_*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark installation with jars/ found; set SPARK_HOME")


SPARK_JARS = spark_jars()


def sources() -> list:
    dirs = [ROOT / "src" / "main" / "scala", BENCH / "src" / "main" / "scala"]
    return sorted(p for d in dirs for p in d.rglob("*.scala"))


def source_hash(extra=()) -> str:
    h = hashlib.sha256()
    for p in sources() + sorted((ROOT / "src" / "main" / "resources").rglob("*")) + list(extra):
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()[:16]


def classpath(classes: Path) -> str:
    return os.pathsep.join([str(classes), str(ROOT / "src" / "main" / "resources"),
                            str(SPARK_JARS / "*")])


def ensure() -> str:
    """Builds the tree if needed; returns the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        raise SystemExit("perfbench: no library sources at src/main/scala; "
                         "run from the root of a full checkout")
    out = STATE / "build" / source_hash()
    classes = out / "classes"
    if not (out / "ok").exists():
        classes.mkdir(parents=True, exist_ok=True)
        args = out / "sources.txt"
        args.write_text("\n".join(f'"{p}"' for p in sources()))
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", str(SPARK_JARS / "*"),
               "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
               "-classpath", str(SPARK_JARS / "*"), f"@{args}"]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit(f"perfbench: compile failed ({r.returncode})")
        (out / "ok").write_text("")
    return classpath(classes)


if __name__ == "__main__":
    print(ensure())
