#!/usr/bin/env python3
"""Runs every workload once untraced and once traced, checks the outputs,
and prints every metric with its unit.

    python3 perfbench/report.py [--seed N] [--seconds S]

Rows are `workload  metric  value  unit`: the end-to-end metrics of
BENCHMARK.json, the workload's own named figures (etl.*, query.*,
curation.*, failed_frac; etl.batch_p50_s and etl.batch_tail_s are
op_p50_s and op_tail_s under their ETL names), the per-layer metrics of the traced run and the
run's contention evidence (host.*). Exits 1 if any run fails or any output
check does not match.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        sys.exit(f"{workload} --trace {trace}: run failed ({out.returncode})")
    return json.loads(lines[-2])["info"], json.loads(lines[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    a = ap.parse_args()

    ok = True
    for w in (x["name"] for x in bench["workloads"]):
        for trace in (0, 1):
            info, result = run(w, a.seed, a.seconds, trace)
            ok = ok and result["correct"] and result["failed"] == 0
            print(f"{w:12s} {'correct':34s} {result['correct']}  "
                  f"({result['failed']} of {result['attempted']} failed)")
            for k, v in sorted(result["metrics"].items()):
                print(f"{w:12s} {k:34s} {v['value']:.6g} {v['unit']}")
            if trace == 0:
                print(f"{w:12s} {'failed_frac':34s} {info['failed_frac']:.6g} ratio")
                for alias, name in sorted(info.get("aliases", {}).items()):
                    v = result["metrics"][name]
                    print(f"{w:12s} {alias:34s} {v['value']:.6g} {v['unit']}  (= {name})")
                for k, v in sorted(info.items()):
                    if k.split(".")[0] in ("etl", "query", "curation"):
                        unit = "" if isinstance(v, str) else (
                            "rows/s" if k.endswith("_per_s") else "s")
                        print(f"{w:12s} {k:34s} {v if isinstance(v, str) else f'{v:.6g}'} {unit}")
            host = info["host"]
            print(f"{w:12s} {'host.nproc':34s} {host['nproc']} cpus")
            print(f"{w:12s} {'host.steal_s':34s} {host['steal_s']:.6g} s")
            print(f"{w:12s} {'host.iowait_s':34s} {host['iowait_s']:.6g} s")
            print(f"{w:12s} {'host.loadavg_before':34s} {host['before']['loadavg'][0]:.3g} load")
            print(f"{w:12s} {'host.loadavg_after':34s} {host['after']['loadavg'][0]:.3g} load")
            print(f"{w:12s} {'process_cpu_util':34s} {info['process_cpu_util']:.6g} ratio")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
