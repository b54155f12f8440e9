#!/usr/bin/env python3
"""Run one benchmark measurement from the repository root.

    python3 perfbench/run.py --workload import_fuzzy --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark if needed (perfbench/build.py), then
runs perfbench.Main in one JVM with everything it writes kept under
.bench_build. Forwards the JVM's output; the last stdout line is the result
object {"correct", "attempted", "failed", "metrics"}. Exits non-zero, with
no result line, when the build, the run or the result is broken.
"""
import argparse
import json
import os
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("import_fuzzy", "dedup")
RUN_TIMEOUT_S = 175

# Spark on JDK 17 outside spark-submit needs these (the repository's
# build.sbt passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = Path.cwd()
    classes = build.ensure_built(root)
    bdir = root / build.BUILD_DIR
    work = bdir / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    trace_out = bdir / "traces" / f"{a.workload}-seed{a.seed}.jsonl"
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={build.BENCH / 'log4j2.properties'}",
            "-cp", f"{classes}{os.pathsep}{build.spark_jars() / '*'}",
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", str(work), "--trace-out", str(trace_out)])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("perfbench: run timed out")
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.exit(f"perfbench: run failed with exit code {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("perfbench: malformed result line")
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
