#!/usr/bin/env python3
"""Build file of the benchmark harness.

Compiles the program's sources (src/main/scala) together with the
harness sources (perfbench/harness/src) into one class directory with
the Scala compiler that ships among the Spark jars. The jar directory is
$SPARK_HOME/jars, or else the `unmanagedBase` that the repository's own
build.sbt names. The output goes under the build directory
($CARGO_TARGET_DIR, default .bench_build) in a folder keyed by a hash of
every source, so an unchanged tree is not compiled twice.

Run directly to build:  python3 perfbench/harness/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
HARNESS_SRC = Path(__file__).resolve().parent / "src"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"


class BuildError(Exception):
    pass


def build_dir():
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    m = sbt.is_file() and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if m and Path(m.group(1)).is_dir():
        return Path(m.group(1))
    raise BuildError("no Spark jar directory: set SPARK_HOME")


def sources():
    if not PROGRAM_SRC.is_dir():
        raise BuildError(f"program sources not found under {PROGRAM_SRC}")
    return sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(HARNESS_SRC.rglob("*.scala"))


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Return (class directory, source fingerprint), compiling if needed."""
    files = sources()
    fp = fingerprint(files)
    out = build_dir() / f"classes-{fp[:16]}"
    if (out / "BUILT").is_file():
        return out, fp
    jars = spark_jars()
    tmp = build_dir() / f"classes-tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", str(tmp)] + [str(f) for f in files]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac exited with {r.returncode}")
    (tmp / "BUILT").write_text(fp + "\n")
    for old in build_dir().glob("classes-*"):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    tmp.rename(out)
    return out, fp


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(f"build failed: {e}")
