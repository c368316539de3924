#!/usr/bin/env python3
"""Runs one workload of the graft benchmark for one seed and prints its result.

    python3 perfbench/run.py --workload lakehouse --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run compiles the library
(src/main/scala) and the harness (perfbench/src) with the Scala compiler
that ships in Spark's jars ($SPARK_HOME/jars, or beside spark-submit on the
PATH), into .bench_build/. Every later run reuses that
build until a source file changes.

The last line of standard output is the result: {"correct", "attempted",
"failed", "metrics"}. With --trace 0 the metrics are the end-to-end ones.
With --trace 1 the run traces every other measured step, and the metrics
are the per-layer ones of the traced steps plus the tracing overhead (the
gap between the traced and the untraced steps). The line above the
result describes the run: environment, input sizes, the untraced window's
end-to-end metrics, the workload's own named metrics, failed checks.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
CONFIG = os.path.join(ROOT, "src", "test", "resources", "reference_standard.json")


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the first Spark install on the
    PATH that ships the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for h in homes:
        jars = os.path.join(h, "jars")
        if h and os.path.isdir(jars) and any(
                f.startswith("scala-compiler") for f in os.listdir(jars)):
            return jars
    return os.path.join(homes[0], "jars")


SPARK_JARS = spark_jars()
WORKLOADS = ("panel_pipeline", "lakehouse")
RUN_TIMEOUT_S = 170
# Spark 4 on JDK 17 needs these when the session is not made by
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
# Table and column names are French: paths and sources must be UTF-8.
# Spark's scratch space stays inside the run's directory, and no JVM writes
# its performance data file to /tmp (-XX:-UsePerfData).
ENV = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR")}
ENV["LC_ALL"] = "C.UTF-8"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def heap_gb():
    """Half of MemTotal, between 2 and 8 GB: the heap the tier-1 tests give
    the driver (SPARK_DRIVER_MEM)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return min(8, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def compile_once(name, srcs, classpath):
    """Compiles `srcs` into .bench_build/<name>-<hash of the sources>/,
    unless that directory is already complete; returns it."""
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(classpath.encode())
    out = os.path.join(BUILD, f"{name}-{h.hexdigest()[:16]}")
    if os.path.isfile(os.path.join(out, ".ok")):
        return out
    for old in os.listdir(BUILD) if os.path.isdir(BUILD) else []:
        if old.startswith(name + "-"):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    os.makedirs(out)
    t0 = time.time()
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss4m", "-Xmx3g", "-cp", os.path.join(SPARK_JARS, "*"),
         "scala.tools.nsc.Main", "-encoding", "UTF-8", "-nowarn", "-d", out,
         "-classpath", classpath] + srcs,
        env=ENV, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        fail(f"compiling {name} failed")
    open(os.path.join(out, ".ok"), "w").close()
    print(f"perfbench: built {name} in {time.time() - t0:.0f} s", file=sys.stderr)
    return out


def build():
    """Compiles the library, then the harness against it; returns the
    class path of both."""
    main, bench = sources(MAIN_SRC), sources(BENCH_SRC)
    if not main or not os.path.isfile(CONFIG):
        fail("run from the root of a graft checkout (src/main/scala and the "
             "reference configuration are missing)")
    if not os.path.isdir(SPARK_JARS):
        fail(f"no Spark jars at {SPARK_JARS}")
    jars = os.path.join(SPARK_JARS, "*")
    lib = compile_once("library", main, jars)
    harness = compile_once("harness", bench, lib + os.pathsep + jars)
    return os.pathsep.join([harness, lib, jars])


def run_jvm(classpath, args, work):
    """Runs the harness; returns its result object."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    heap = f"{heap_gb()}g"
    # the parallel collector with a fixed heap: on a few cores, G1's
    # concurrent threads and heap resizing made runs slower and less even.
    # A metaspace high-water mark above what Spark loads: otherwise class
    # loading triggers full collections whose timing decides peak_heap_mb.
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC",
            "-XX:MetaspaceSize=512m", "-Xss4m",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + ADD_OPENS
           + ["-cp", classpath, "graftbench.Main", "--work", work] + args)
    proc = subprocess.Popen(cmd, env=ENV, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.startswith("BENCH_RESULT ")]
    if proc.returncode != 0 or not lines:
        fail(f"harness exited with {proc.returncode} and no result")
    return json.loads(lines[-1][len("BENCH_RESULT "):])


def input_hashes(classpath, workload, seed):
    """SHA-256 of each generated input table, without running anything."""
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-cp", classpath, "graftbench.Main", "--work", BUILD,
           "--workload", workload, "--seed", str(seed), "--seconds", "0",
           "--hash-inputs", "1"]
    out = subprocess.run(cmd, env=ENV, cwd=ROOT, capture_output=True, text=True,
                         timeout=RUN_TIMEOUT_S).stdout
    line = next(l for l in out.splitlines() if l.startswith("INPUT_HASHES "))
    return json.loads(line[len("INPUT_HASHES "):])


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-failure", action="store_true",
                    help="add one call that must fail (a merge into a missing table)")
    a = ap.parse_args()

    classpath = build()
    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    try:
        res = run_jvm(classpath, ["--workload", a.workload, "--seed", str(a.seed),
                                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                                  "--inject-failure", "1" if a.inject_failure else "0"], work)
        if a.trace:
            spans = os.path.join(BUILD, "spans")
            os.makedirs(spans, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(spans, f"{a.workload}-{a.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "git_commit": git_commit(), "env": res["env"], "inputs": res["inputs"],
        "end_to_end": res["end_to_end"], "detail": res["detail"],
        "check_failures": res["check_failures"]}, ensure_ascii=False))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
