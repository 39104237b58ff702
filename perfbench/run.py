#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_upsert --seed 1 --seconds 10 --trace 0

Builds the program if needed (build.py), runs one workload in one JVM on
local[4], and prints two JSON lines: the run's info (host contention
evidence, tail percentile, failed fraction and workload figures) and, last,
the result: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.
Each workload runs a fixed number of operations; --seconds only caps a
run. All files go under .bench_build/ at the repository root.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("etl_upsert", "query_mix")
CORPUS_WORKLOADS = ("query_mix",)
RUN_LIMIT_S = 175
CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100

# JDK 17 needs these when a SparkSession starts outside spark-submit
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def host_snapshot():
    """Steal and iowait jiffies (all CPUs) and load averages."""
    snap = {"time": time.time()}
    try:
        with open("/proc/stat") as f:
            cpu = f.readline().split()
        snap["iowait_jiffies"] = int(cpu[5])
        snap["steal_jiffies"] = int(cpu[8]) if len(cpu) > 8 else 0
    except (OSError, IndexError, ValueError):
        pass
    try:
        snap["loadavg"] = [float(x) for x in os.getloadavg()]
    except OSError:
        pass
    return snap


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    a = ap.parse_args()

    try:
        classes, jars = build.build()
        with open(build.STAMP) as f:
            stamp = f.read()
        java = build.java()
    except build.BuildError as e:
        sys.exit(f"perfbench: build failed: {e}")

    here = os.path.dirname(os.path.abspath(__file__))
    corpus = os.path.join(build.BUILD, "corpus-" + stamp[:16])
    for d in os.listdir(build.BUILD):  # corpora of earlier builds
        if d.startswith("corpus-") and os.path.join(build.BUILD, d) != corpus:
            shutil.rmtree(os.path.join(build.BUILD, d), ignore_errors=True)
    work = os.path.join(build.BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    logs = os.path.join(build.BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(logs, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    trace_out = os.path.join(build.BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl")

    def jvm(extra):
        return [
            java, "-Xmx3g", "-Xss4m", "-XX:-UsePerfData",
            *[x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
            "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work, "--corpus", corpus,
            "--expected", os.path.join(here, "expected.json"),
            "--trace-out", trace_out, *extra]

    def run_jvm(cmd, log, limit_s):
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                cwd=work)
        try:
            out, _ = proc.communicate(timeout=limit_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(f"perfbench: run exceeded {RUN_LIMIT_S} s; log in {log_path}")
        return proc.returncode, out

    started = time.time()
    with open(log_path, "w") as log:
        # the fixed corpus is generated once per build, in a JVM of its own,
        # so that no measured JVM is warmed by generating it
        if a.workload in CORPUS_WORKLOADS and not os.path.exists(
                os.path.join(corpus, "_COMPLETE")):
            code, _ = run_jvm(jvm(["--prepare-only", "1"]), log, RUN_LIMIT_S)
            if code != 0:
                sys.exit(f"perfbench: corpus generation failed; log in {log_path}")
        before = host_snapshot()
        launch_ms = int(time.time() * 1000)
        code, out = run_jvm(jvm(["--launch-ms", str(launch_ms)]), log,
                            RUN_LIMIT_S - (time.time() - started))
    after = host_snapshot()
    shutil.rmtree(work, ignore_errors=True)

    lines = {k: v for k, _, v in (l.partition(" ") for l in out.splitlines())
             if k in ("PERFBENCH_INFO", "PERFBENCH_RESULT")}
    if code != 0 or "PERFBENCH_RESULT" not in lines:
        sys.exit(f"perfbench: JVM exited with {code}; log in {log_path}")
    info = json.loads(lines["PERFBENCH_INFO"])
    result = json.loads(lines["PERFBENCH_RESULT"])

    steal_s = (after.get("steal_jiffies", 0) - before.get("steal_jiffies", 0)) / CLK_TCK
    info["host"] = {"nproc": os.cpu_count(), "before": before, "after": after,
                    "steal_s": steal_s,
                    "iowait_s": (after.get("iowait_jiffies", 0)
                                 - before.get("iowait_jiffies", 0)) / CLK_TCK}
    info["log"] = os.path.relpath(log_path, build.ROOT)
    if "trace_file" in info:
        info["trace_file"] = os.path.relpath(info["trace_file"], build.ROOT)
    if a.trace == "1":
        result["metrics"]["host.steal_s"] = {"value": steal_s, "unit": "s"}
        result["metrics"]["host.loadavg"] = {
            "value": after.get("loadavg", [0.0])[0], "unit": "load"}
    print(json.dumps({"info": info}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
