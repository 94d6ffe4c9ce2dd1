#!/usr/bin/env python3
"""Benchmark of the backup job and the query engine, end to end.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads: queries_llm, queries_sql (see BENCHMARK.json and README.md).
The script compiles the checkout's Scala sources plus the benchmark's own
(perfbench/src) with the Scala compiler that ships in the Spark jars,
caches the classes under .bench_build/perfbench/ keyed by a hash of the
sources, and runs one JVM at local[nproc] with a fixed 2 GB heap. All run
state (warehouse, Spark local dirs, staged tables, backups) lives in a
per-run directory under .bench_build/perfbench/runs/ and is removed
afterwards; traced runs leave their spans in .bench_build/perfbench/traces/.

The JVM prints a record describing the run, then the result. This script
prints the record (with the source digest added) and, as its last line,
the result: {"correct", "attempted", "failed", "metrics"}. It exits non-zero
without a result when the sources, the Spark jars or the build are missing,
or when the run fails.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else build.sbt's
    unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    return None


def sources():
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(jars, srcs):
    """Compile once per source digest; returns (classpath dir, digest)."""
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(open(f, "rb").read())
    digest = h.hexdigest()[:16]
    classes = os.path.join(BUILD, "classes-" + digest)
    if os.path.isdir(classes):
        return classes, digest
    tmp = classes + ".tmp-%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed", 1)
    res = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(res):
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    os.rename(tmp, classes)
    print(f"perfbench: built {len(srcs)} sources in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return classes, digest


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="queries_sql")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    ap.add_argument("--make-reference", action="store_true",
                    help="rewrite perfbench/reference/ from this checkout's queries")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no src/main/scala here; run from the root of a full checkout")
    jars = spark_jars()
    if jars is None:
        fail("Spark jars not found (set SPARK_HOME)")
    srcs = sources()
    classes, digest = build(jars, srcs)

    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    tag = f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "runs", tag)
    traces = os.path.join(BUILD, "traces")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(traces, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=1g",
            "-Dsun.net.httpserver.nodelay=true",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--cores", str(cores),
            "--size", a.size, "--data", os.path.join(HERE, "data"),
            "--work", work, "--traces", traces]
    if a.make_reference:
        i = cmd.index("perfbench.Main")
        cmd = cmd[:i] + ["perfbench.MakeReference", "--data", os.path.join(HERE, "data"),
                         "--work", work, "--cores", str(cores)]
        r = subprocess.run(cmd)
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(r.returncode)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 1)
    shutil.rmtree(work, ignore_errors=True)
    record = result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RECORD "):
            record = json.loads(line.split(" ", 1)[1])
        elif line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line.split(" ", 1)[1])
        elif line.strip():
            print(line, file=sys.stderr)
    if proc.returncode != 0 or record is None or result is None:
        fail(f"run failed (exit {proc.returncode})", 1)
    record["source_digest"] = digest
    commit = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                            capture_output=True, text=True)
    record["commit"] = commit.stdout.strip() if commit.returncode == 0 else None
    print(json.dumps({"record": record}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
