#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run builds the engine and the benchmark from source with sbt
(perfbench/build.sbt) into the build directory ($CARGO_TARGET_DIR, or
.bench_build); later runs reuse the build while the sources are unchanged.
The benchmark JVM prints one line per metric; this script prints them,
then, as its last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

holding the end-to-end metrics of BENCHMARK.json (--trace 0) or its
per-layer metrics (--trace 1). Any error exits non-zero without a result.
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
RUN_LIMIT_S = 170      # one run, after any build
BUILD_LIMIT_S = 700    # the build on a fresh checkout (plus one run: under 900 s)

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    """Every file the build reads: the engine's main sources and the
    benchmark's own sources and build files."""
    out = []
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files]
    out += [os.path.join(HERE, f) for f in ("build.sbt", ".jvmopts",
                                            os.path.join("project", "build.properties"))]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, HERE).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, build_dir):
    """Compile with sbt unless the last build used the same sources;
    returns the runtime classpath."""
    files = source_files(root)
    want = stamp(files)
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ, PERFBENCH_TARGET=os.path.join(build_dir, "sbt"))
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as fh:
        try:
            p = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true",
                 "-Dsbt.server.autostart=false", "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh,
                text=True, timeout=BUILD_LIMIT_S, start_new_session=True)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; log: {log}")
        fh.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if "classes" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed; log: {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cp


def stop_group(pgid):
    """Stop every process of the benchmark's process group and wait until
    none is left."""
    for sig, wait_s in ((signal.SIGTERM, 10), (signal.SIGKILL, 10)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.time() + wait_s
        while time.time() < end:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def run_jvm(root, cp, args, work):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["--add-modules=jdk.incubator.vector", "-Xms3g", "-Xmx3g",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work]
    log = os.path.join(work, "jvm.log")
    report = None
    with open(log, "w") as errfh:
        proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, stderr=errfh,
                                text=True, start_new_session=True)
        deadline = time.time() + RUN_LIMIT_S
        timed_out = False

        def on_alarm(*_):
            nonlocal timed_out
            timed_out = True
            stop_group(proc.pid)

        signal.signal(signal.SIGALRM, on_alarm)
        signal.alarm(max(1, int(deadline - time.time())))
        try:
            for line in proc.stdout:
                if line.startswith("PERFBENCH_REPORT "):
                    report = json.loads(line[len("PERFBENCH_REPORT "):])
                else:
                    sys.stdout.write(line)
                    sys.stdout.flush()
            proc.wait()
        finally:
            signal.alarm(0)
            stop_group(proc.pid)
    if timed_out:
        fail(f"run exceeded {RUN_LIMIT_S} s; log: {log}")
    if proc.returncode != 0 or report is None:
        with open(log) as fh:
            tail = fh.read()[-4000:]
        fail(f"benchmark JVM exited with {proc.returncode}; log tail:\n{tail}")
    return report


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found: run from the root of a checkout", 2)
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}", 2)
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found in this checkout", 3)
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME must point at the Spark installation", 3)

    build_dir = os.path.abspath(os.path.join(
        root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    # one run at a time per build directory: workloads share the host and
    # the engine's fixed side-table paths
    lock = open(os.path.join(build_dir, "run.lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)

    cp = build(root, build_dir)
    work = os.path.join(build_dir, f"work-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        report = run_jvm(root, cp, args, work)
        traces = os.path.join(build_dir, "traces")
        os.makedirs(traces, exist_ok=True)
        for f in os.listdir(work):
            if f.startswith("trace-"):
                shutil.move(os.path.join(work, f), os.path.join(traces, f))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        got = report["metrics"].get(m["name"])
        if got is None and args.trace and any(
                m["name"].startswith(p) for p in report["idle_prefixes"]):
            print(f"metric {m['name']:<40} 0 {m['unit']}  (layer idle in this workload)")
            got = {"value": 0.0, "unit": m["unit"]}
        if got is None:
            fail(f"metric {m['name']} was not reported")
        if got["unit"] != m["unit"]:
            fail(f"metric {m['name']} reported in {got['unit']}, expected {m['unit']}")
        if got["value"] is None or not math.isfinite(got["value"]):
            fail(f"metric {m['name']} has no value")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    print(f"operations: {report['attempted']} attempted, {report['failed']} failed")
    print(json.dumps({"correct": report["correct"], "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
