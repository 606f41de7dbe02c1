#!/usr/bin/env python3
"""perfbench: the repo benchmark. Drives the engine from outside, one JVM
and one client thread, and prints one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads are defined in perfbench/workloads.json. With --trace 0 the
result carries the end-to-end metrics; with --trace 1 a SparkListener from
perfbench/src records spans and the result carries the per-layer metrics
(see perfbench/README.md). Every op's output is checked: row counts on
timed ops, full values on the warm-up pass (DuckDB oracle SQL, or a
recorded digest), corpus totals against a direct computation.
"""
import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import build  # noqa: E402
import checks  # noqa: E402
import derive  # noqa: E402
import tree  # noqa: E402

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
DEADLINE_S = 170  # the whole run, build excluded, stays under 180 s
SETUP_REPS = 3


def load_workloads():
    with open(os.path.join(BENCH, "workloads.json")) as f:
        return json.load(f)


def launch(cp, jvm_flags, spec_lines, work, out, timeout):
    spec = os.path.join(work, "spec.txt")
    spec_lines = spec_lines + [f"launched_ns={time.time_ns()}"]
    with open(spec, "w") as f:
        f.write("\n".join(spec_lines) + "\n")
    # a fixed heap keeps GC sizing out of the timings
    cmd = (["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + jvm_flags + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Harness", spec, out])
    # Spark's local dirs follow SPARK_LOCAL_DIRS over spark.local.dir
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=timeout,
                               env=env)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"harness exceeded {timeout:.0f} s")
    if r.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"harness exited {r.returncode}:\n{tail}")


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the work directory (out/spans.jsonl holds a traced run's spans)")
    ap.add_argument("--cold", type=int, choices=(0, 1), default=1,
                    help="0 skips the cache clearing before ops (guard self-test only)")
    ap.add_argument("--ops", help="comma-separated op subset (guard self-test only)")
    a = ap.parse_args()

    wl_all = load_workloads()
    if a.workload not in wl_all:
        sys.exit(f"unknown workload {a.workload}; have {sorted(wl_all)}")
    wl = wl_all[a.workload]
    cp = build.ensure()
    t_start = time.time()

    work = os.path.join(build.ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "out")
    results = os.path.join(work, "results")
    for d in (out, results, os.path.join(work, "tmp")):
        os.makedirs(d)
    try:
        spec = [f"work={work}", f"kind={wl['kind']}", f"seconds={a.seconds}",
                f"trace={a.trace}", f"cold={a.cold}", f"setup_reps={SETUP_REPS}",
                f"results={results}", f"data={checks.DATA}"]
        prep_times = []
        if wl["kind"] == "corpus":
            # the seed sets the tree layout; generated afresh per repetition
            for _ in range(SETUP_REPS):
                root = os.path.join(work, "tree")
                shutil.rmtree(root, ignore_errors=True)
                t0 = time.perf_counter()
                layout = tree.generate(root, a.seed, wl)
                prep_times.append(time.perf_counter() - t0)
            spec += [f"tree={root}", f"subtree={layout['subtree']}"]
            ops = []
        else:
            ops = a.ops.split(",") if a.ops else list(wl["ops"])
            random.Random(a.seed).shuffle(ops)  # the seed permutes op order
            spec.append("writers=" + ",".join(wl.get("writers", [])))
            spec += [f"op={o}" for o in ops]
            layout = None
        launch(cp, wl.get("jvm_flags", []), spec, work, out,
               DEADLINE_S - (time.time() - t_start))

        res = json.load(open(os.path.join(out, "result.json")))
        recs = read_jsonl(os.path.join(out, "ops.jsonl"))
        if wl["kind"] == "corpus":
            failures = checks.check_corpus(recs, layout["expected"])
        else:
            failures = checks.check_registry(recs, results)
        for f in failures[:20]:
            print("FAIL", f, file=sys.stderr)
        attempted = len(recs)
        failed = len({f.split(":")[0] for f in failures})

        timed = [r for r in recs if r["kind"] in ("query", "shared")]
        setup_s = (res["jvm_launch_s"] + statistics.median(res["session_s"])
                   + (statistics.median(prep_times) if prep_times else 0.0)
                   + res["warmup_s"])
        if a.trace == 0:
            lat = sorted(r["times"]["op_s"] for r in timed if not r["error"])
            # one pass over the op list, each op at its median over the passes
            per_op = defaultdict(list)
            for r in timed:
                if not r["error"]:
                    per_op[r["name"]].append(r["times"]["op_s"])
            metrics = {
                "setup_s": (setup_s, "s"),
                "wall_s": (sum(statistics.median(v) for v in per_op.values()), "s"),
                "op_p50_s": (statistics.median(lat), "s"),
                "op_p80_s": (derive.quantile(lat, 0.8), "s"),
            }
        else:
            spans = read_jsonl(os.path.join(out, "spans.jsonl"))
            metrics = derive.per_layer(recs, spans, res, layout)
        print(f"{a.workload} seed={a.seed} ops={attempted} failed={failed} passes="
              f"{len(res['passes'])} setup_s={setup_s:.3f}", file=sys.stderr)
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    try:
        main()
    except (build.BuildError, RuntimeError) as e:
        sys.exit(f"perfbench: {e}")
