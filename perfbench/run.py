#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. Builds the graft library
and the benchmark driver with sbt when their sources changed (the build
lives under perfbench/target), starts one JVM running perfbench.Main, and
prints two lines on stdout: a summary (host block, sample counts, failure
share, errors) and, last, the result object
{"correct", "attempted", "failed", "metrics"}.

Exit status is 0 only when every op succeeded and every output check held.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["validate-full", "curate"]
# Fixed needs of the largest workload; the run refuses to start below them
# rather than shrink its inputs.
HEAP_MB = 3072
DISK_MB = 3072
BUILD_TIMEOUT_S = 850
# A run is stopped after RUN_BASE_S + 2 * --seconds, plus RUN_PROBES_S when
# traced: session start, setup and warm-up, twice the op budget (the last op
# may overrun it, and checks follow each op), and the per-layer probes.
RUN_BASE_S = 90
RUN_PROBES_S = 45
JDK17_OPENS = [
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


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Returns the runtime classpath, compiling first if sources changed."""
    stamp = os.path.join(HERE, "target", "perfbench-build.json")
    digest = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            s = json.load(fh)
        if s.get("hash") == digest:
            return s["classpath"]
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH; it is needed to build the benchmark")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "compile", "export Runtime/fullClasspath"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S,
                       stdin=subprocess.DEVNULL)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = [ln for ln in p.stdout.splitlines() if "scala-library" in ln and not ln.startswith("[")]
    if not cp:
        sys.stderr.write(p.stdout[-4000:])
        fail("build printed no classpath")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"hash": digest, "classpath": cp[-1].strip()}, fh)
    return cp[-1].strip()


def mem_total_mb():
    with open("/proc/meminfo") as fh:
        for ln in fh:
            if ln.startswith("MemTotal:"):
                return int(ln.split()[1]) // 1024
    return 0


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    return p.stdout.strip() or None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found next to the benchmark; run it from a checkout of the repository")
    if shutil.which("java") is None:
        fail("java is not on PATH")

    cores = len(os.sched_getaffinity(0))
    # Spark task threads and GC threads: half the cores, and two JIT compiler
    # threads, so that the driver thread does not queue behind them and the
    # op times move less when a neighbour on a shared host takes CPU time.
    threads = max(1, cores // 2)
    free_mb = shutil.disk_usage(ROOT).free // (1 << 20)
    host = {"cores": cores, "task_threads": threads, "mem_total_mb": mem_total_mb(), "jvm_heap_mb": HEAP_MB,
            "free_disk_mb": free_mb, "git_sha": git_sha()}
    if free_mb < DISK_MB:
        fail(f"needs {DISK_MB} MB of free disk, has {free_mb} MB")
    if host["mem_total_mb"] < HEAP_MB + 1024:
        fail(f"needs {HEAP_MB + 1024} MB of memory for a {HEAP_MB} MB heap, "
             f"has {host['mem_total_mb']} MB")

    classpath = build()
    work_root = os.path.join(ROOT, ".bench_build")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    result_file = os.path.join(work, "result.json")
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "_JAVA_OPTIONS")}
    cmd = (["java", f"-Xms{HEAP_MB}m", f"-Xmx{HEAP_MB}m", "-XX:+UseParallelGC",
            f"-XX:ParallelGCThreads={threads}", "-XX:CICompilerCount=2", f"-Djava.io.tmpdir={work}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--threads", str(threads), "--work", work, "--out", result_file])
    timeout = RUN_BASE_S + 2 * a.seconds + (RUN_PROBES_S if a.trace else 0)
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {timeout:.0f} s and was stopped")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise

    try:
        with open(result_file) as fh:
            res = json.load(fh)
    except (OSError, ValueError):
        res = None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if res is None:
        fail(f"the benchmark JVM exited with {proc.returncode} and wrote no result")

    info = res.pop("info")
    info["host"] = dict(host, jvm_max_heap_mb=info.pop("jvm_max_heap_mb"),
                        spark_version=info.pop("spark_version"))
    info["workload"], info["seed"], info["trace"] = a.workload, a.seed, a.trace
    print(json.dumps({"summary": info}))
    print(json.dumps(res))
    ok = proc.returncode == 0 and res["correct"] and res["failed"] == 0
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
