#!/usr/bin/env python3
"""Build the program and the benchmark's JVM side from source.

Compiles every Scala file under src/main/scala (the program) and
perfbench/src (the benchmark's server) with the Scala compiler that ships
in the Spark jars, into <build dir>/classes. The build dir is
$CARGO_TARGET_DIR if set, else .bench_build, relative to the checkout
root. A stamp of the sources' hash skips the build when nothing changed.

Usage: python3 perfbench/build.py   (run.py calls build() itself)
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
# the Spark jars build.sbt compiles against
SPARK_JARS = pathlib.Path(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def build_dir():
    d = pathlib.Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def sources():
    roots = [ROOT / "src" / "main" / "scala", HERE / "src"]
    files = sorted(p for r in roots if r.is_dir() for p in r.rglob("*.scala"))
    if not any(str(p).startswith(str(roots[0])) for p in files):
        raise SystemExit(f"build: no program sources under {roots[0]}")
    return files


def build():
    """Compile if the sources changed; returns the classes directory."""
    files = sources()
    digest = hashlib.sha256()
    for p in files:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp = digest.hexdigest()
    out = build_dir()
    classes = out / "classes"
    if (out / "stamp").is_file() and (out / "stamp").read_text() == stamp:
        return classes
    if not SPARK_JARS.is_dir():
        raise SystemExit(f"build: no Spark jars at {SPARK_JARS}")
    staging = out / "classes.tmp"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", f"{SPARK_JARS}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", str(staging), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac exited {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    staging.rename(classes)
    (out / "stamp").write_text(stamp)
    return classes


if __name__ == "__main__":
    print(build())
