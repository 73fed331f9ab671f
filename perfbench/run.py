#!/usr/bin/env python3
"""Lifecycle benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Builds the engine and the benchmark from source (perfbench/build.py), runs
one seeded workload in a fresh JVM with Spark at local[<cores>], prints every
metric by name and unit, and prints as its last line one JSON object with
`correct`, `attempted`, `failed` and `metrics`. With --trace 0 the metrics are
the end-to-end metrics of BENCHMARK.json; with --trace 1 the per-layer ones.
The full run record (seed, sizes, fingerprint, run configuration, every
workload and layer metric, and the spans of a traced run) is written to
.bench_build/runs/. Exits non-zero when any correctness check fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("index_build", "search_serving", "upsert_mixed", "corpus_pipeline")
# runs of the workloads BENCHMARK.json lists must end within 180 s; the
# others are run by hand and may take longer
LISTED_TIMEOUT_S, UNLISTED_TIMEOUT_S = 170, 900
JVM_OPTS = [
    "-Xmx3g", "-Xss8m",
    # C1 only (the repo's SPARK_GRAFT_JIT=c1 setting): with full tiered JIT
    # a corpus pass kept speeding up for a minute (9.3 s to 5.2 s over 13
    # passes on 4 cores), longer than a run lasts, so runs measured the JIT
    # rather than the engine; under C1 call times are flat after warm-up
    "-XX:TieredStopAtLevel=1",
    # whole-stage codegen emits many large methods; see build.sbt
    "-XX:ReservedCodeCacheSize=512m", "-XX:-DontCompileHugeMethods",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [arg for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for arg in ("--add-opens", f"{p}=ALL-UNNAMED")]


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def listed_workloads():
    try:
        return {w["name"] for w in json.loads((build.ROOT / "BENCHMARK.json").read_text())["workloads"]}
    except (OSError, ValueError, KeyError, TypeError):
        return set()


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="check that each generator's fingerprint is a function of the seed")
    args = ap.parse_args()
    if not args.self_test and args.workload is None:
        ap.error("--workload is required")

    classpath, engine_stamp = build.build()
    tag = "selftest" if args.self_test else f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = build.BUILD / "work" / f"{tag}-{os.getpid()}"
    runs = build.BUILD / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    record = runs / f"{tag}.json"
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work / 'tmp'}", "-cp",
                                 os.pathsep.join(map(str, classpath)), "perfbench.Main"]
    if args.self_test:
        cmd += ["--selftest", "1"]
    else:
        cmd += ["--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
                "--trace", str(args.trace), "--work", str(work), "--record", str(record)]
    timeout = LISTED_TIMEOUT_S if args.self_test or args.workload in listed_workloads() else UNLISTED_TIMEOUT_S
    env = dict(os.environ, PERFBENCH_COMMIT=commit() or f"source-{engine_stamp[:16]}")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env, cwd=build.ROOT,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"perfbench: run exceeded {timeout} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = out.splitlines()
    if args.self_test:
        print("\n".join(lines))
        sys.exit(proc.returncode)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("\n".join(lines), file=sys.stderr)
        sys.exit(f"perfbench: the run printed no result (exit {proc.returncode})")
    print("\n".join(lines[:-1]))
    print(f"record {record}")
    print(json.dumps(result))
    sys.exit(0 if proc.returncode == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
