#!/usr/bin/env python3
"""Determinism self-check of the benchmark's counters.

Runs every workload twice at the small scale with the same seed, traced,
and requires the layer counts that depend only on the inputs to repeat
exactly: pages fetched, bytes an upsert rewrites, store files, near-dup
pairs found and connected-components rounds. Also requires every op of
every run to pass its output check.

Usage (from the repository root): python3 perfbench/selfcheck.py [--seed N]
Exits 0 when every count repeats, 1 otherwise.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("analyst_queries", "corpus_dedup")
COUNTS = ("paginator.pages", "ingest.bytes_rewritten", "store.files", "lsh.pairs_out", "cc.rounds")


def run(workload, seed):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1", "--scale", "small"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    seed = ap.parse_args().seed
    ok = True
    for w in WORKLOADS:
        a, b = run(w, seed), run(w, seed)
        for r in (a, b):
            if not r["correct"] or r["failed"]:
                print(f"{w}: {r['failed']} of {r['attempted']} ops failed")
                ok = False
        for k in COUNTS:
            va, vb = a["metrics"][k]["value"], b["metrics"][k]["value"]
            same = va == vb
            ok &= same
            print(f"{w:16s} {k:24s} {va!r:>14} {vb!r:>14} {'same' if same else 'DIFFERENT'}")
    print("selfcheck:", "ok" if ok else "FAILED")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
