#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_sql --seed 1 --seconds 12 --trace 0

Run from the root of a source tree. Builds the engine (src/main/scala) and
the benchmark (perfbench/src) with the Scala compiler that ships in the Spark
jars, caches the classes under $CARGO_TARGET_DIR (default .bench_build) keyed
by a hash of the sources, runs one workload in one JVM and prints, as the last
line of standard output, one JSON object with the keys correct, attempted,
failed and metrics. --trace 1 adds, in the same JVM, a traced window and
then one more untraced window, and prints the per-layer metrics and the
tracing overhead against the untraced windows on either side.
Exits 2, printing no result, when the build or the run fails; exits 1 after
printing the result when an answer was wrong.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(ROOT, "src", "main", "resources"),
             os.path.join(HERE, "src")]
    out = []
    for r in roots:
        for d, _, fs in os.walk(r):
            out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not os.path.isdir(jars):
        fail(f"no Spark jars at {jars} (set SPARK_HOME)")
    return jars


def cpus():
    return len(os.sched_getaffinity(0))


def heap_gb():
    """Driver heap: half of MemTotal in GiB, clamped to [2, 8]."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return min(8, max(2, kb // 2097152))


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v[:8])


def build(build_dir, jars):
    """Compile once per source hash; returns the classes directory."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no src/main/scala here: run from the root of the source tree")
    files = source_files()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()[:16]
    classes = os.path.join(build_dir, f"classes-{digest}")
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(classes):
            return classes, digest
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        srcs = [f for f in files if f.endswith(".scala")]
        argfile = os.path.join(build_dir, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(srcs) + "\n")
        cp = os.path.join(jars, "*")
        cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
        t0 = time.time()
        try:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                               text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build exceeded its time limit")
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            fail("build failed")
        res = os.path.join(ROOT, "src", "main", "resources")
        if os.path.isdir(res):
            shutil.copytree(res, tmp, dirs_exist_ok=True)
        os.rename(tmp, classes)
        print(f"perfbench: built {len(srcs)} sources in {time.time() - t0:.1f}s",
              file=sys.stderr)
        return classes, digest


def run_jvm(classes, jars, build_dir, a, deadline):
    work = os.path.join(build_dir, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "stderr.log")
    cmd = (["java", f"-Xmx{heap_gb()}g", "-Xss8m",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"),
              "perfbench.PerfBench", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--out", out,
              "--cpus", str(cpus())])
    try:
        with open(log, "w") as err:
            p = subprocess.Popen(cmd, stdout=err, stderr=subprocess.STDOUT,
                                 start_new_session=True)
            try:
                p.wait(timeout=max(1, deadline - time.time()))
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, 9)
                p.wait()
                raise
        if p.returncode != 0 or not os.path.exists(out):
            with open(log) as fh:
                sys.stderr.write(fh.read()[-6000:])
            fail(f"{a.workload} run exited with {p.returncode}")
        with open(log) as fh:
            sys.stderr.write("".join(l for l in fh if l.startswith("perfbench:")))
        with open(out) as fh:
            result = json.load(fh)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            dest = os.path.join(build_dir, "results")
            os.makedirs(dest, exist_ok=True)
            shutil.copy(spans, os.path.join(dest, f"spans-{a.workload}-s{a.seed}.jsonl"))
        return result
    except subprocess.TimeoutExpired:
        fail(f"{a.workload} run exceeded its time limit")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["serve_sql", "ingest_refresh"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    start = time.time()
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    jars = spark_jars()
    classes, digest = build(build_dir, jars)
    deadline = time.time() + RUN_TIMEOUT_S
    steal0, total0 = cpu_ticks()
    result = run_jvm(classes, jars, build_dir, a, deadline)
    steal1, total1 = cpu_ticks()
    commit = "unknown"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        commit = r.stdout.strip() or commit
    info = dict(result.get("info", {}))
    # CPU time the hypervisor gave to other guests during the run: on a
    # shared virtual machine this explains runs that are slow throughout
    info.update(workload=a.workload, trace=a.trace, commit=commit,
                source_hash=digest, wall_s=round(time.time() - start, 3),
                cpu_steal_share=round((steal1 - steal0) / max(1, total1 - total0), 4))
    dest = os.path.join(build_dir, "results")
    os.makedirs(dest, exist_ok=True)
    with open(os.path.join(dest, f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as fh:
        json.dump(dict(result, info=info), fh)
    print(json.dumps({"provenance": info}))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
