#!/usr/bin/env python3
"""Benchmark entry point.

Usage (from the repository root):
  python3 perfbench/run.py --workload <analyst_queries|corpus_dedup>
                           --seed <n> --seconds <s> --trace <0|1> [--scale full|small]

Builds the program and the benchmark from source (perfbench/build.py, which
also records the JVM's class-data sharing archive), runs one workload in a
single JVM that maps the archive, and prints the result as the last line of
stdout. Everything it writes stays under the build directory
($CARGO_TARGET_DIR, or .bench_build). Exits non-zero without a result line
when the build or the run fails.
"""
import argparse
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("analyst_queries", "corpus_dedup")
DEADLINE_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "small"), default="full")
    a = ap.parse_args()

    jar = build.build(".")
    work = os.path.abspath(os.path.join(build.out_root(), "work-" + a.workload))
    out, code = build.run_child(build.java_command(
        jar, "-XX:SharedArchiveFile=" + build.cds_archive(jar),
        ["--workload", a.workload, "--trace", str(a.trace), "--work", work, "--seed", str(a.seed),
         "--seconds", str(a.seconds), "--scale", a.scale]), timeout=DEADLINE_S, stdout=subprocess.PIPE)
    if code != 0:
        sys.exit(f"run: benchmark JVM exited with {code}")
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("run: no result line from the benchmark JVM")
    for l in lines[:-1]:
        if l.startswith("#"):
            print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
