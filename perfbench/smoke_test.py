#!/usr/bin/env python3
"""Smoke test: every workload on tiny inputs, untraced and traced, with
its correctness checks. Run from the repository root:

    python3 perfbench/smoke_test.py

Exits non-zero if any run fails, reports `"correct": false`, or misses a
metric named in BENCHMARK.json.
"""
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
WORKLOADS = ["metric-reads", "dedup-backfill", "stream-admit"]


def main():
    spec = json.load(open("BENCHMARK.json"))
    want = {0: {m["name"] for m in spec["end_to_end"]},
            1: {m["name"] for m in spec["per_layer"]}}
    bad = 0
    for wl in WORKLOADS:
        for trace in (0, 1):
            p = subprocess.run(
                [sys.executable, RUN, "--workload", wl, "--seed", "7",
                 "--seconds", "3", "--trace", str(trace), "--size", "tiny"],
                stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            try:
                res = json.loads(line)
            except ValueError:
                res = {}
            ok = (p.returncode == 0 and res.get("correct") is True
                  and res.get("attempted", 0) >= 1
                  and want[trace] <= set(res.get("metrics", {})))
            print(f"{'ok  ' if ok else 'FAIL'} {wl} trace={trace} "
                  f"attempted={res.get('attempted')} failed={res.get('failed')}")
            if not ok:
                bad += 1
                print(p.stderr[-3000:], file=sys.stderr)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
