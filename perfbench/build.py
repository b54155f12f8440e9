#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the library (src/main/scala) together with the benchmark's own
sources (perfbench/src) with the Scala compiler that ships in Spark's jar
directory, into .bench_build/classes. Nothing is fetched and nothing is
written outside .bench_build. A stamp of every source's content makes a
repeated build a no-op.

Run from the repository root:  python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
BUILD_DIR = ".bench_build"


def spark_jars():
    """Spark's jar directory, which also holds the Scala compiler."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise SystemExit("perfbench: SPARK_HOME is not set")
    return Path(home) / "jars"


def sources(root):
    lib = root / "src" / "main" / "scala"
    if not lib.is_dir():
        raise SystemExit(f"perfbench: no library sources at {lib}")
    return sorted(lib.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))


def ensure_built(root):
    """Compile when any source changed; return the classes directory."""
    build = root / BUILD_DIR
    classes = build / "classes"
    stamp = build / "classes.stamp"
    srcs = sources(root)
    h = hashlib.sha256(Path(__file__).read_bytes())
    for s in srcs:
        h.update(str(s.relative_to(root)).encode())
        h.update(s.read_bytes())
    digest = h.hexdigest()
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == digest:
        return classes
    tmp_classes = build / "classes.tmp"
    shutil.rmtree(tmp_classes, ignore_errors=True)
    tmp_classes.mkdir(parents=True)
    (build / "tmp").mkdir(exist_ok=True)
    argfile = build / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={build / 'tmp'}",
           "-cp", str(spark_jars() / "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp_classes), f"@{argfile}"]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    shutil.rmtree(classes, ignore_errors=True)
    tmp_classes.rename(classes)
    stamp.write_text(digest)
    return classes


if __name__ == "__main__":
    print(ensure_built(Path.cwd()))
