#!/usr/bin/env python3
"""Benchmark of the churn warehouse: the paper's medallion day (nightly run,
correction loop, watermark export) plus the versioned store that serves
bronze-shaped reads, driven from outside through the engine's public
functions. See perfbench/README.md for the workloads and metrics.

Usage (from the repository root):
    python3 perfbench/run.py --workload full_load --seed 1 --seconds 15 --trace 0

The first run builds the engine and the driver from this checkout's
sources with sbt (perfbench/build.sbt); later runs reuse the build while
no source file changed. The last line of stdout is the result object;
the line before it carries every metric with its sample count, the
interference evidence and any failure.
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
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "perfbench-classpath.txt")
WORKLOADS = ("full_load", "daily_ticks")
# Customers in the base landing zone. Sized so that one measured day of
# either workload takes seconds, not minutes: every run must fit the
# evaluation's time budget (see README.md, "Scale").
CUSTOMERS = 5000
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
JDK_OPENS = [
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


def run_group(cmd, cwd, timeout, log_path):
    """Run `cmd` in its own process group, output to `log_path`; on
    timeout kill the whole group and wait for it. Returns the exit code,
    or None on timeout."""
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def source_stamp():
    """Digest of every input of the build: paths, sizes and mtimes."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")]
    for r in roots:
        if os.path.isfile(r):
            files = [r]
        else:
            files = []
            for d, dirs, names in os.walk(r):
                dirs[:] = sorted(x for x in dirs if x != "target")
                files += [os.path.join(d, n) for n in sorted(names)]
        for f in files:
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile engine + driver; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {os.path.join(ROOT, 'src')}")
    stamp = source_stamp()
    stamp_file = CLASSPATH + ".stamp"
    if os.path.exists(CLASSPATH) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(CLASSPATH) as f2:
                    return f2.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    rc = run_group(["sbt", "--batch", "-J-XX:-UsePerfData", "-Dsbt.log.noformat=true", "compile",
                    "export Runtime/fullClasspath"], HERE, BUILD_LIMIT_S, log)
    if rc != 0:
        with open(log, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (exit {rc}); log in {log}")
    with open(log, errors="replace") as f:
        lines = [l.strip() for l in f if "perfbench" in l and ".jar" in l]
    if not lines:
        fail(f"no classpath in the build output; log in {log}")
    cp = lines[-1]
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(n, 8))


def check_shape(result, trace):
    """The result must carry exactly the metrics BENCHMARK.json names."""
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    with open(spec_path) as f:
        spec = json.load(f)
    want = spec["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    missing = [m["name"] for m in want if not isinstance(
        got.get(m["name"], {}).get("value"), (int, float))]
    if missing:
        fail(f"metrics without a value: {', '.join(missing)}", 3)
    result["metrics"] = {m["name"]: {"value": got[m["name"]]["value"],
                                     "unit": m["unit"]} for m in want}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found at the checkout root")

    cp = build()
    start = time.monotonic()
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    result_file = os.path.join(work, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # no hsperfdata file: the run writes nothing outside the checkout
        "-XX:-UsePerfData", "-Xmx3g", "-XX:ReservedCodeCacheSize=256m",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", cp, "perfbench.Main", args.workload, str(args.seed),
        str(args.seconds), str(args.trace), work, result_file,
        str(cores()), str(CUSTOMERS)]
    log = os.path.join(out_dir, f"{args.workload}-{args.seed}-{args.trace}.log")
    try:
        rc = run_group(cmd, ROOT, RUN_LIMIT_S, log)
        if rc != 0 or not os.path.exists(result_file):
            with open(log, errors="replace") as f:
                sys.stderr.write(f.read()[-4000:])
            fail("timed out" if rc is None else f"driver exited {rc}; log in {log}", 4)
        with open(result_file) as f:
            out = json.load(f)
        spans = result_file + ".spans.jsonl"
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(
                out_dir, f"{args.workload}-{args.seed}.spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out["detail"]["run_s"] = round(time.monotonic() - start, 3)
    print(json.dumps({"detail": out["detail"]}))
    result = out["result"]
    check_shape(result, args.trace)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
