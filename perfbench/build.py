#!/usr/bin/env python3
"""Builds the program (src/main/scala) and the benchmark's JVM side
(perfbench/scala) into one class directory, with the Scala compiler that
ships among the Spark jars (the directory `build.sbt` names as its
`unmanagedBase`). No sbt: the build needs no network and writes only
under the build directory.

The build directory is $CARGO_TARGET_DIR when set, else .bench_build, both
relative to the repository root. A stamp of the sources' contents skips
the compile when nothing changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path



def spark_jars(root: Path) -> str:
    """The Spark jar directory, as `build.sbt` declares it."""
    sbt = root / "build.sbt"
    found = re.search(r'unmanagedBase := file\("([^"]+)"\)', sbt.read_text()) \
        if sbt.exists() else None
    if not found:
        raise SystemExit(f"build: no unmanagedBase in {sbt}")
    return found.group(1)


def sources(root: Path) -> list:
    files = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    if not files:
        raise SystemExit(f"build: no program sources under {root}/src/main/scala")
    return files + sorted((root / "perfbench" / "scala").glob("*.scala"))


def build(root: Path):
    """Returns the class directory, compiling it first if stale, and
    whether it compiled."""
    out = root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    classes = out / "classes"
    files = sources(root)
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(root)).encode())
        digest.update(f.read_bytes())
    stamp = out / "stamp"
    if stamp.exists() and stamp.read_text() == digest.hexdigest() and classes.is_dir():
        return classes, False
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    cp = f"{spark_jars(root)}/*"
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", cp] + [str(f) for f in files]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout)
        raise SystemExit(f"build: scalac failed with exit code {res.returncode}")
    stamp.write_text(digest.hexdigest())
    return classes, True


if __name__ == "__main__":
    print(build(Path.cwd())[0])
