#!/usr/bin/env python3
"""Tiny-size smoke check of the benchmark.

    python3 perfbench/smoke.py [WORKLOAD ...]

Runs every workload run.py knows (or the named ones) at --size tiny,
untraced and traced, and fails unless each run exits 0, every job passes its output
check, and the printed metrics are exactly the end_to_end (untraced) or
per_layer (traced) metrics of BENCHMARK.json, with the same units.
"""
import json
import os
import subprocess
import sys

from run import WORKLOADS

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def main(names):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    expected = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
                1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    names = names or WORKLOADS
    problems = []
    for name in names:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", name,
                   "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                               text=True)
            tag = f"{name} trace={trace}"
            issues = []
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                issues.append(f"exit {p.returncode}")
            else:
                r = json.loads(lines[-1])
                if not r["correct"] or r["failed"] or r["attempted"] < 1:
                    issues.append(f"correct={r['correct']} failed={r['failed']}")
                got = {k: v["unit"] for k, v in r["metrics"].items()}
                if got != expected[trace]:
                    issues.append(f"metrics {sorted(got.items())} differ from "
                                  f"BENCHMARK.json {sorted(expected[trace].items())}")
            print(f"{tag}: {'FAIL' if issues else 'ok'}")
            problems += [f"{tag}: {i}" for i in issues]
    for p in problems:
        print("FAIL", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
