#!/usr/bin/env python3
"""Mirror benchmark: build the program and the benchmark from source, run
one workload in a fresh JVM, print its result as the last stdout line.

    python3 mirrorbench/run.py --workload browse --seed 1 --seconds 6 --trace 0

Run from the repository root. Builds land in .bench_build/mirrorbench,
keyed by a hash of every source file, so a second run reuses the build.
`--selftest` runs the benchmark's own tests instead of a workload.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "mirrorbench")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
RUN_TIMEOUT_S = 170

# Pinned JVM: fixed heap (-Xms = -Xmx) and collector. The add-opens are
# what spark-submit passes on JDK 17.
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-Xss4m"]
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"mirrorbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jars of $SPARK_HOME, or of the Spark whose spark-submit is on
    the PATH; they include the Scala compiler."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark with a Scala compiler found: set SPARK_HOME")
    return jars


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        fail(f"program sources not found at {PROGRAM_SRC}")
    files = sorted(glob.glob(os.path.join(PROGRAM_SRC, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    if not files:
        fail("no sources")
    return files


def build():
    """Compile program + benchmark with the Scala compiler that ships with
    Spark; return the classes directory."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files + sorted(glob.glob(os.path.join(PROGRAM_RES, "**", "*"), recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()[:16]
    out = os.path.join(BUILD, "classes-" + stamp)
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.isdir(out):
            tmp = out + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            argfile = os.path.join(BUILD, "sources.txt")
            with open(argfile, "w") as fh:
                fh.write("\n".join(files))
            cp = os.path.join(jars, "*")
            r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                                "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
                               stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
            if r.returncode != 0:
                shutil.rmtree(tmp, ignore_errors=True)
                sys.stderr.write(r.stdout[-4000:])
                fail("build failed")
            os.rename(tmp, out)
    return out, stamp


def commit_id(stamp):
    rev = "unknown"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        rev = r.stdout.strip() or rev
    return f"git:{rev} src:{stamp}"


def java_cmd(classes, main, args, tmp):
    cp = ":".join([classes, PROGRAM_RES, os.path.join(spark_jars(), "*")])
    return (["java"] + OPENS + JVM_FLAGS
            + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false", "-cp", cp, main] + args)


def expected_metrics(trace):
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload not in ("browse", "sync"):
        fail("--workload must be browse or sync")

    classes, stamp = build()
    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(BUILD, "runs", f"{a.workload or 'selftest'}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    log_path = os.path.join(BUILD, "last-run.log")
    if a.selftest:
        main_class, args = "mirrorbench.SelfTest", ["--dir", run_dir, "--cores", str(nproc)]
    else:
        main_class = "mirrorbench.Main"
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--dir", run_dir, "--cores", str(nproc),
                "--commit", commit_id(stamp)]
        if a.trace:
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            args += ["--trace-out", os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl")]
    # Keep every scratch file of the JVM and Spark inside the run directory.
    env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    try:
        with open(log_path, "w") as log:
            r = subprocess.run(java_cmd(classes, main_class, args, tmp), stdout=subprocess.PIPE,
                               stderr=log, text=True, timeout=RUN_TIMEOUT_S, env=env)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s; log in {log_path}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        sys.stdout.write(r.stdout)
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-3000:])
        fail(f"JVM exited with {r.returncode}")
    if a.selftest:
        print("\n".join(lines))
        return
    result = json.loads(lines[-1])
    want = expected_metrics(a.trace)
    if want is not None and set(result["metrics"]) != want:
        fail(f"metrics {sorted(set(result['metrics']) ^ want)} differ from BENCHMARK.json")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
