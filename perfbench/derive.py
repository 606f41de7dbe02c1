"""Per-layer metrics of a traced run, derived from its span file.

Spans (one JSON object a line): op, build, plan, exec (registry ops),
sources and mr (corpus ops), mrjob (one per MR job, from the runner's
`graft mr job <name>` job-group description) and job (one per Spark job,
with its stage and task totals in `attrs`). Each layer total is summed
over the timed ops of one traced pass; the median over traced passes is
reported. The exec layer is the exec span of a registry op and the mr
span of a corpus op. Byte counters cover every Spark job of an op,
whichever layer submitted it. Metrics that do not apply to a workload
are reported as 0.
"""
import statistics
from collections import defaultdict

SLOTS = 4  # local[4]

# name -> unit; the prefix before the first '.' names the layer
UNITS = {
    "operators.build_s": "s", "operators.build_jobs": "count", "operators.build_task_s": "s",
    "plans.plan_s": "s", "plans.exchanges": "count",
    "exec.exec_s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.job_gap_s": "s", "exec.task_wait_s": "s", "exec.slot_busy": "ratio",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.task_gc_s": "s",
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.input_bytes": "bytes", "exec.failed_tasks": "count",
    "exec.output_bytes": "bytes",
    "sources.write_op_s": "s", "sources.list_s": "s", "sources.files": "count",
    "sources.input_bytes": "bytes",
    "cache.persisted_rdds": "count", "cache.persisted_bytes": "bytes",
    "mr.run_s": "s", "mr.materialize_s": "s", "mr.job_s": "s", "mr.job_overlap": "ratio",
    "mr.scan_passes": "count", "mr.input_bytes_ratio": "ratio", "mr.share_ratio": "ratio",
    "mr.marginal_job_s": "s",
    "jvm.gc_s": "s", "jvm.peak_rss_mb": "MB",
    "self.op_s": "s", "self.build_s": "s", "self.plan_s": "s", "self.exec_s": "s",
    "self.sources_s": "s", "self.mr_s": "s",
    "trace.wall_s": "s", "trace.coverage": "ratio",
}
IO = {"shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes",
      "failed_tasks", "output_bytes"}
TIMED = ("query", "shared")


def quantile(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def dur(s):
    return (s["end_ns"] - s["start_ns"]) / 1e9


def union(spans, clip=None):
    """Seconds covered by the spans' intervals, optionally clipped to one span."""
    iv = sorted((s["start_ns"], s["end_ns"]) for s in spans)
    if clip is not None:
        iv = [(max(a, clip["start_ns"]), min(b, clip["end_ns"])) for a, b in iv]
        iv = [(a, b) for a, b in iv if b > a]
    total, cur_a, cur_b = 0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1e9


def op_layers(rec, spans, layout):
    """Layer totals of one op from its spans."""
    m = defaultdict(float)
    by_kind = defaultdict(list)
    for s in spans:
        by_kind[s["kind"]].append(s)
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    jobs = by_kind["job"]
    ops = by_kind["op"]
    if not ops:
        return m, None
    op = ops[0]
    layer_spans = [s for s in spans if s["parent"] == op["id"]]
    m["self.op_s"] = dur(op) - union(layer_spans)
    coverage = sum(dur(s) for s in layer_spans) / max(dur(op), 1e-9)
    for j in jobs:
        for k in IO:
            m["exec." + k] += j["attrs"].get(k, 0.0)
    for b in by_kind["build"]:
        bj = [j for j in jobs if j["parent"] == b["id"]]
        m["operators.build_s"] += dur(b)
        m["operators.build_jobs"] += len(bj)
        m["operators.build_task_s"] += sum(j["attrs"]["task_run_s"] for j in bj)
        m["self.build_s"] += dur(b) - union(bj, b)
    for p in by_kind["plan"]:
        m["plans.plan_s"] += dur(p)
        m["self.plan_s"] += dur(p) - union(children[p["id"]], p)
    for e in by_kind["exec"] + by_kind["mr"]:
        # jobs under the exec layer, MR jobs' Spark jobs included
        ej = [j for j in jobs if j["parent"] == e["id"]
              or any(mj["id"] == j["parent"] and mj["parent"] == e["id"] for mj in by_kind["mrjob"])]
        gap = dur(e) - union(ej, e)
        m["exec.exec_s"] += dur(e)
        m["exec.jobs"] += len(ej)
        m["exec.job_gap_s"] += gap
        for k in ("stages", "tasks", "task_wait_s", "task_run_s", "task_cpu_s", "task_gc_s"):
            m["exec." + k] += sum(j["attrs"][k] for j in ej)
        m["self.exec_s" if e["kind"] == "exec" else "self.mr_s"] += gap
    for s in by_kind["sources"]:
        m["sources.list_s"] += dur(s)
        m["self.sources_s"] += dur(s) - union(children[s["id"]], s)
    for mr in by_kind["mr"]:
        mrjobs = [s for s in by_kind["mrjob"] if s["parent"] == mr["id"]]
        direct = [j for j in jobs if j["parent"] == mr["id"]]
        m["mr.run_s"] += dur(mr)
        m["mr.materialize_s"] += union(direct, mr)
        m["mr.job_s"] += sum(dur(s) for s in mrjobs)
        m["mr.job_overlap"] = sum(dur(s) for s in mrjobs) / max(union(mrjobs), 1e-9)
        m["mr.scan_passes"] += rec["facts"]["fs_bytes_read"] / layout["bytes"]
        m["mr.input_bytes_ratio"] += sum(j["attrs"]["input_bytes"] for j in jobs) / layout["bytes"]
        m["sources.files"] += rec["facts"]["files"]
        m["sources.input_bytes"] += rec["facts"]["fs_bytes_read"]
    f = rec["facts"]
    m["plans.exchanges"] += f.get("exchanges", 0.0)
    m["sources.write_op_s"] += f.get("write_op_s", 0.0)
    m["cache.persisted_rdds"] += f.get("persisted_rdds", 0.0)
    m["cache.persisted_bytes"] += f.get("persisted_bytes", 0.0)
    return m, coverage


def per_layer(recs, spans, res, layout):
    by_op = defaultdict(list)
    for s in spans:
        by_op[s["op_id"]].append(s)
    passes = defaultdict(lambda: defaultdict(float))
    coverage = []
    per_op = defaultdict(list)
    singles = defaultdict(list)
    shared_s = defaultdict(list)
    for r in recs:
        if r["kind"] in TIMED and r["traced"] and not r["error"]:
            per_op[r["name"]].append(r["times"]["op_s"])
        if not r["traced"] or r["error"]:
            continue
        if r["kind"] == "single":
            singles[r["pass"]].append(r["times"]["op_s"])
            continue
        if r["kind"] == "shared":
            shared_s[r["pass"]].append(r["times"]["op_s"])
        m, cov = op_layers(r, by_op[r["op_id"]], layout)
        if cov is not None:
            coverage.append(cov)
        for k, v in m.items():
            passes[r["pass"]][k] += v
    for p, tot in passes.items():
        # ratios of pass totals, not sums of per-op ratios
        tot["exec.slot_busy"] = tot["exec.task_run_s"] / max(tot["exec.exec_s"] * SLOTS, 1e-9)
        n_shared = max(len(shared_s[p]), 1)
        for k in ("mr.job_overlap", "mr.scan_passes", "mr.input_bytes_ratio"):
            tot[k] /= n_shared
        if singles[p] and shared_s[p]:
            shared = statistics.median(shared_s[p])
            tot["mr.share_ratio"] = shared / sum(singles[p])
            tot["mr.marginal_job_s"] = (shared - statistics.mean(singles[p])) / (len(singles[p]) - 1)
    out = {}
    for k, unit in UNITS.items():
        vals = [tot.get(k, 0.0) for tot in passes.values()]
        out[k] = (statistics.median(vals) if vals else 0.0, unit)
    out["jvm.gc_s"] = (res["gc_s"] / max(len(res["passes"]), 1), "s")
    out["jvm.peak_rss_mb"] = (res["peak_rss_mb"], "MB")
    # the same definition as the untraced run's wall_s, so the two differ
    # by the tracing overhead
    out["trace.wall_s"] = (sum(statistics.median(v) for v in per_op.values()), "s")
    out["trace.coverage"] = (min(coverage) if coverage else 0.0, "ratio")
    return out
