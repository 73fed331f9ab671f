#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark sources (perfbench/src) with the Scala compiler that ships in the
Spark distribution, into .bench_build/ at the repository root.

    python3 perfbench/build.py

Each half is rebuilt only when a hash of its sources (and of the Spark jar
list) changes. The Spark jars are `$SPARK_HOME/jars` when SPARK_HOME is set,
else the `unmanagedBase` directory the repository's build.sbt compiles
against.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
BUILD = ROOT / ".bench_build"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = BENCH_DIR / "src"


def spark_jars_dir():
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    if m is None:
        raise SystemExit("perfbench: set SPARK_HOME; build.sbt names no unmanagedBase")
    return Path(m.group(1))


def spark_jars():
    jars_dir = spark_jars_dir()
    jars = sorted(jars_dir.glob("*.jar"))
    if not any(j.name.startswith("scala-compiler") for j in jars):
        raise SystemExit(f"perfbench: no Spark distribution with a Scala compiler at {jars_dir}")
    return jars


def sources(root):
    return sorted(p for p in root.rglob("*.scala") if p.is_file())


def stamp(files, extra):
    h = hashlib.sha256()
    for part in extra:
        h.update(part.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def compile_into(out, files, classpath):
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = os.pathsep.join(str(p) for p in classpath)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-d", str(tmp), "-nowarn", "-encoding", "UTF-8"] + [str(f) for f in files]
    print(f"perfbench: compiling {len(files)} files into {out}", file=sys.stderr, flush=True)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit(f"perfbench: compiling {out.name} failed")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)


def build():
    """Compile what changed; return the runtime classpath."""
    if not ENGINE_SRC.is_dir():
        raise SystemExit(f"perfbench: engine sources not found at {ENGINE_SRC}")
    jars = spark_jars()
    BUILD.mkdir(exist_ok=True)
    engine_files, bench_files = sources(ENGINE_SRC), sources(BENCH_SRC)
    engine_out, bench_out = BUILD / "engine-classes", BUILD / "bench-classes"
    engine_stamp = stamp(engine_files, [j.name for j in jars])
    bench_stamp = stamp(bench_files, [engine_stamp])
    for out, files, key, cp in ((engine_out, engine_files, engine_stamp, jars),
                                (bench_out, bench_files, bench_stamp, jars + [engine_out])):
        marker = out / ".stamp"
        if not (marker.is_file() and marker.read_text() == key):
            compile_into(out, files, cp)
            marker.write_text(key)
    return [bench_out, engine_out] + jars, engine_stamp


if __name__ == "__main__":
    build()
