#!/usr/bin/env python3
"""Self-test of the cold-cache guard: gr01_pagerank persists intermediate
frames, so without clearing Spark's caches between the warm-up and the
timed op, the timed op reads the warm-up's cached frames and falls to a
fraction of its cold latency. This checks both sides:

  * with the guard (the benchmark's normal mode) the timed op starts cold,
    passes its output checks, and stays well above the cached level;
  * without the cache clearing, the guard flags the op as failed.

    python3 perfbench/selftest.py
"""
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
OP = "gr01_pagerank"
MIN_RATIO = 2.0  # cold latency over cached latency


def run(cold):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "registry_mix",
           "--seed", "1", "--seconds", "1", "--trace", "0", "--ops", OP, "--cold", str(cold)]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=os.path.dirname(BENCH))
    if r.returncode != 0:
        sys.exit(f"run.py exited {r.returncode}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def main():
    cold = run(1)
    cached = run(0)
    c = cold["metrics"]["op_p50_s"]["value"]
    w = cached["metrics"]["op_p50_s"]["value"]
    print(f"{OP}: cold {c:.3f} s, cached {w:.3f} s, ratio {c / w:.1f}")
    ok = True
    if not cold["correct"]:
        print("FAIL: the guarded run failed its checks")
        ok = False
    if cached["failed"] == 0:
        print("FAIL: the guard did not flag an op that started with cached data")
        ok = False
    if c < MIN_RATIO * w:
        print(f"FAIL: cold latency is under {MIN_RATIO}x the cached one")
        ok = False
    print("PASS" if ok else "FAILED")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
