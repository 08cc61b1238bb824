#!/usr/bin/env python3
"""Benchmark of the graft engine: build it from source, then run one workload.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Workloads: ingest_search and corpus_curate (see
perfbench/README.md). The last line of standard output is one JSON object
with the keys correct, attempted, failed and metrics. Everything the run
writes goes under .bench_build/ in the checkout.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
PROGRAM_SOURCES = ROOT / "src" / "main" / "scala"
BENCH_SOURCES = HERE / "src"
WORKLOADS = ("ingest_search", "corpus_curate")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as the
# repository's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jar directory; it also carries the Scala
    compiler that matches Spark's Scala version."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("no Spark distribution found: set SPARK_HOME")
    jars = Path(home) / "jars"
    if not list(jars.glob("scala-compiler-*.jar")):
        fail(f"no Scala compiler jar in {jars}")
    return jars


def sources():
    if not PROGRAM_SOURCES.is_dir():
        fail(f"program sources not found at {PROGRAM_SOURCES.relative_to(ROOT)}; "
             "run from the root of a graft checkout")
    files = sorted(PROGRAM_SOURCES.rglob("*.scala")) + sorted(BENCH_SOURCES.rglob("*.scala"))
    if not files:
        fail("no Scala sources found")
    return files


def build(jars):
    """Compile the program and the benchmark into a directory named by the
    hash of their sources; reuse it while the sources are unchanged."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = BUILD / f"classes-{h.hexdigest()[:16]}"
    if out.is_dir():
        return out
    BUILD.mkdir(exist_ok=True)
    for old in BUILD.glob("classes-*"):
        shutil.rmtree(old)
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={BUILD}", "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-d", str(tmp), "-nowarn", f"@{argfile}"]
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    rc = run_child(cmd, BUILD_TIMEOUT_S)
    if rc != 0:
        fail(f"compilation failed (exit {rc})")
    tmp.rename(out)
    return out


def run_child(cmd, timeout):
    """Run a child process to completion; on timeout kill it and wait."""
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep its
    # scratch files inside the checkout
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env)
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        proc.kill()
        proc.wait()
        raise


def java(classes, jars, main, args):
    work = BUILD / "run"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{jars}/*", main] + args + ["--work", str(work)])
    try:
        return run_child(cmd, RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=int)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        p.error("--workload, --seed and --seconds are required")
    if not a.selftest and a.seconds < 1:
        p.error("--seconds must be at least 1")
    jars = spark_jars()
    classes = build(jars)
    if a.selftest:
        sys.exit(java(classes, jars, "graftbench.SelfTest", []))
    sys.exit(java(classes, jars, "graftbench.Main",
                  ["--workload", a.workload, "--seed", str(a.seed),
                   "--seconds", str(a.seconds), "--trace", str(a.trace)]))


if __name__ == "__main__":
    main()
