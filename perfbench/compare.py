#!/usr/bin/env python3
"""Collect perfbench runs and compare two sets of them.

    python3 perfbench/compare.py collect --out runs.jsonl [--workload W ...]
        [--seeds 1-10] [--trace 0|1]
    python3 perfbench/compare.py diff base.jsonl new.jsonl

`collect` runs perfbench/run.py once per workload and seed (all workloads
by default), appends each result as one JSON line and prints every metric
by name and unit with its median and quartiles. `diff` prints, per
workload and metric, both sides' quartiles and one verdict: gain or
regression when the interquartile ranges do not overlap and the medians
differ by more than the metric's bound (end-to-end metrics; per-layer
metrics have none), else unresolved. The committed HEAD baseline is
perfbench/baseline/head.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
from collections import defaultdict

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def load(path):
    """(workload, trace) -> metric -> [values], plus units."""
    vals = defaultdict(lambda: defaultdict(list))
    units = {}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            for k, m in r["result"]["metrics"].items():
                vals[(r["workload"], r["trace"])][k].append(m["value"])
                units[k] = m["unit"]
    return vals, units


def collect(a):
    s = spec()
    workloads = a.workload or [w["name"] for w in s["workloads"]]
    lo, _, hi = a.seeds.partition("-")
    seeds = range(int(lo), int(hi or lo) + 1)
    with open(a.out, "a") as out:
        for w in workloads:
            for seed in seeds:
                cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", w,
                       "--seed", str(seed), "--seconds", str(s["run_seconds"]),
                       "--trace", str(a.trace)]
                r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
                if r.returncode != 0:
                    sys.exit(f"{w} seed {seed}: run.py exited {r.returncode}")
                res = json.loads(r.stdout.strip().splitlines()[-1])
                out.write(json.dumps({"workload": w, "seed": seed, "trace": a.trace,
                                      "result": res}) + "\n")
                out.flush()
                if not res["correct"]:
                    print(f"{w} seed {seed}: {res['failed']} of {res['attempted']} ops failed")
    summarize(a.out)


def summarize(path):
    vals, units = load(path)
    bounds = {m["name"]: m["bound"] for m in spec()["end_to_end"]}
    for (w, t), ms in sorted(vals.items()):
        print(f"== {w} (trace {t})")
        untraced = vals.get((w, 0), {}).get("wall_s")
        if t == 1 and untraced:
            over = statistics.median(ms["trace.wall_s"]) - statistics.median(untraced)
            print(f"  tracing overhead (median trace.wall_s - median wall_s): {over:.4f} s")
        for k, xs in ms.items():
            q1, q2, q3 = quartiles(xs)
            spread = (q3 - q1) / q2 if q2 else 0.0
            b = f" bound {bounds[k]}" if k in bounds else ""
            print(f"  {k:28s} {q2:14.4f} {units[k]:6s} q1 {q1:.4f} q3 {q3:.4f}"
                  f" spread {spread:.3f}{b} n={len(xs)}")


def diff(a):
    s = spec()
    meta = {m["name"]: m for m in s["end_to_end"] + s["per_layer"]}
    base, units = load(a.base)
    new, _ = load(a.new)
    for key in sorted(set(base) & set(new)):
        w, t = key
        print(f"== {w} (trace {t})")
        for k in base[key]:
            if k not in new[key]:
                continue
            b1, b2, b3 = quartiles(base[key][k])
            n1, n2, n3 = quartiles(new[key][k])
            m = meta.get(k, {})
            lower = m.get("better", "lower") == "lower"
            bound = m.get("bound", 0.0)
            moved = abs(n2 - b2) > bound * abs(b2)
            if n3 < b1 and moved:
                verdict = "gain" if lower else "regression"
            elif n1 > b3 and moved:
                verdict = "regression" if lower else "gain"
            else:
                verdict = "unresolved"
            print(f"  {k:28s} {units[k]:6s} base {b2:.4f} [{b1:.4f}, {b3:.4f}]"
                  f"  new {n2:.4f} [{n1:.4f}, {n3:.4f}]  {verdict}")


def main():
    ap = argparse.ArgumentParser(description="collect and compare perfbench runs")
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("--out", required=True)
    c.add_argument("--workload", action="append")
    c.add_argument("--seeds", default="1-10")
    c.add_argument("--trace", type=int, choices=(0, 1), default=0)
    d = sub.add_parser("diff")
    d.add_argument("base")
    d.add_argument("new")
    a = ap.parse_args()
    if a.cmd == "collect":
        collect(a)
    else:
        diff(a)


if __name__ == "__main__":
    main()
