#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine sources (src/main/scala)
together with the benchmark sources (perfbench/src) into one class
directory with the Scala compiler that ships in Spark's jars (the jar
directory the sbt build uses).

    python3 perfbench/build.py            # build (no-op when up to date)

The output lands in $CARGO_TARGET_DIR (default .bench_build) under the
checkout root, keyed by a hash of every input file, so an unchanged tree
is not rebuilt.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH_SRC = ROOT / "perfbench" / "src"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
ENGINE_RES = ROOT / "src" / "main" / "resources"


def build_dir() -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def spark_jars() -> Path:
    """The Spark jars the sbt build compiles against (`unmanagedBase` in
    build.sbt), else $SPARK_HOME/jars."""
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if m:
        return Path(m.group(1))
    if "SPARK_HOME" not in os.environ:
        raise SystemExit("build: no Spark jars (build.sbt names no unmanagedBase and SPARK_HOME is unset)")
    return Path(os.environ["SPARK_HOME"]) / "jars"


def classpath() -> str:
    return str(spark_jars() / "*")


def sources():
    files = []
    for base in (ENGINE_SRC, BENCH_SRC):
        files += sorted(p for p in base.rglob("*.scala") if p.is_file())
    return files


def stamp(files) -> str:
    h = hashlib.sha256()
    res = sorted(p for p in ENGINE_RES.rglob("*") if p.is_file()) if ENGINE_RES.exists() else []
    for p in list(files) + res:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(quiet: bool = False) -> Path:
    """Compile if needed; return the class directory."""
    if not ENGINE_SRC.is_dir() or not BENCH_SRC.is_dir():
        raise SystemExit("build: engine sources (src/main/scala) or benchmark sources missing")
    files = sources()
    key = stamp(files)
    out = build_dir() / "perfbench" / "classes"
    stamp_file = out.parent / "stamp"
    if out.is_dir() and stamp_file.exists() and stamp_file.read_text() == key:
        return out
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    argfile = out.parent / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in files) + "\n")
    tmp = out.parent / "tmp"
    tmp.mkdir(exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={tmp}", "-cp", classpath(),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", str(out), f"@{argfile}"]
    if not quiet:
        print(f"build: compiling {len(files)} sources into {out}", file=sys.stderr)
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    if ENGINE_RES.exists():
        shutil.copytree(ENGINE_RES, out, dirs_exist_ok=True)
    stamp_file.write_text(key)
    return out


if __name__ == "__main__":
    print(build())
