#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine (src/main/scala, plus src/main/resources) together
with the benchmark sources (perfbench/src) into .bench_build/classes
with the Scala compiler shipped among the Spark jars. The Spark jars
directory is the one the repository's build.sbt names as its
unmanagedBase. A content hash of every input skips the compile when
nothing changed.

    python3 perfbench/build.py        # prints the classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build"


def spark_jars() -> Path:
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    if not (m and Path(m.group(1)).is_dir()):
        raise SystemExit("build: build.sbt names no Spark jars directory (unmanagedBase)")
    return Path(m.group(1))


def sources() -> list:
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise SystemExit(f"build: engine sources missing ({engine})")
    return sorted(engine.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))


def build() -> str:
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    resources = ROOT / "src" / "main" / "resources"
    res = sorted(p for p in resources.rglob("*") if p.is_file()) if resources.is_dir() else []
    h = hashlib.sha256(str(jars).encode())
    for p in srcs + res:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    classes = OUT / "classes"
    stamp_file = OUT / "classes.stamp"
    cp = f"{classes}{os.pathsep}{jars}/*"
    if stamp_file.is_file() and stamp_file.read_text() == stamp and classes.is_dir():
        return cp
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    print(f"[build] compiling {len(srcs)} Scala files", file=sys.stderr)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp", "-d", str(tmp)] + [str(p) for p in srcs]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    for p in res:
        dst = tmp / p.relative_to(resources)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return cp


if __name__ == "__main__":
    print(build())
