"""Turn the harness's raw output document (ops, job spans, query phases)
into the benchmark's end-to-end and per-layer metrics.

Pure functions only, so the rules are unit-tested without a JVM: the
tail-percentile sample-count rule, the union of job spans, self and driver
time, and the mapping from a job's call site to a library layer.
"""

import math
import statistics

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "rows_per_s": "1/s",
    "cache_peak_mb": "MB",
    "ok_rate": "ratio",
}

PER_LAYER = {
    "glm.iters": "count", "glm.jobs": "count", "glm.driver_s": "s",
    "gram.pass_s": "s", "gram.job_s": "s", "gram.aggs": "count",
    "suffstats.job_s": "s", "suffstats.hit_ratio": "ratio", "suffstats.cache_mb": "MB",
    "design.levels_s": "s", "design.p": "count",
    "grouped.native_s": "s", "grouped.udaf_s": "s",
    "grouped.native_task_s": "s", "grouped.udaf_task_s": "s",
    "grouped.generations": "count",
    "checkpoint.count": "count", "checkpoint.job_s": "s", "checkpoint.mb": "MB",
    "graph.round_s": "s", "graph.jobs_per_round": "count",
    "graph.compiles_per_round": "count",
    "sql.analysis_s": "s", "sql.optimization_s": "s", "sql.planning_s": "s",
    "sql.actions": "count",
    "codegen.compiles": "count", "codegen.compile_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_s": "s", "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB", "exec.util": "ratio",
    "op.driver_s": "s",
    "trace.op_p50_s": "s", "trace.untraced_op_p50_s": "s", "trace.overhead_s": "s",
    "trace.spans": "count",
}

# Library class (the part of a frame before the first `$`) -> layer.
LAYERS = {
    "graft.glm.GLM": "glm",
    "graft.glm.Gram": "gram",
    "graft.glm.SuffStats": "suffstats",
    "graft.glm.ModelMatrix": "design",
    "graft.glm.Formula": "design",
    "graft.glm.GroupedGLM": "grouped",
    "graft.Checkpointer": "checkpoint",
    "graft.ops.Graph": "graph",
}

# The layer whose public function each workload's op calls. A job whose
# call site holds no library frame (one submitted from a Spark-internal
# thread, e.g. a broadcast) is charged to it.
OP_LAYER = {
    "glm_factor": "glm",
    "graph_labelprop": "graph",
}
# ... and the layer a direct call's frameless jobs are charged to.
DIRECT_LAYER = {
    "design.levels": "design",
    "gram.pass": "gram",
    "grouped.native": "grouped",
    "grouped.udaf": "grouped",
}

TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0)
MB = 1e6


def tail_percentile(n, candidates=TAIL_PERCENTILES):
    """The highest percentile with at least ten of `n` samples beyond it, or None."""
    for p in candidates:
        beyond = n * (100.0 - p) / 100.0
        if beyond >= 10 or math.isclose(beyond, 10):
            return p
    return None


def median(values, default=0.0):
    return statistics.median(values) if values else default


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total, cur_start, cur_end = 0, None, None
    for start, end in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(intervals, lo, hi):
    """The parts of `intervals` inside [lo, hi)."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_time(span, children):
    """A span's length minus the part of it its child spans cover."""
    lo, hi = span
    return (hi - lo) - union_length(clip(children, lo, hi))


def layer_of(frame, default):
    """The layer a job is charged to, from the first library frame of its call site."""
    if not frame:
        return default
    method = frame.split("(", 1)[0]          # graft.glm.Gram$.normal
    cls = method.rsplit(".", 1)[0]           # graft.glm.Gram$
    return LAYERS.get(cls.split("$", 1)[0], "other")


def end_to_end(doc):
    """End-to-end metrics from all timed ops of a run (values only)."""
    ops = doc["ops"]
    p50 = median([o["wall_s"] for o in ops])
    failed = sum(1 for o in ops if o["error"])
    return {
        "setup_s": doc["setup_s"],
        "op_p50_s": p50,
        # at the median op wall, like op_p50_s: a mean over three ops would
        # move with a single op slowed by load on the host
        "rows_per_s": doc["units"] / p50,
        "cache_peak_mb": median([o["cache_peak_bytes"] / MB for o in ops]),
        "ok_rate": (len(ops) - failed) / len(ops),
    }


def _breakdown(span, jobs, queries, default_layer, cpus):
    """Per-layer numbers of one traced span (an op or a direct call)."""
    bounds = (span["start_ms"], span["end_ms"])
    wall_ms = bounds[1] - bounds[0]
    by_layer = {}
    for j in jobs:
        by_layer.setdefault(layer_of(j["frame"], default_layer), []).append(j)

    def layer_jobs(layer):
        return by_layer.get(layer, [])

    def job_s(layer):
        ivs = [(j["start_ms"], j["end_ms"]) for j in layer_jobs(layer)]
        return union_length(clip(ivs, *bounds)) / 1e3

    def cached_mb(layer):
        return sum(j["cached_bytes"] for j in layer_jobs(layer)) / MB

    task_s = sum(j["task_ms"] for j in jobs) / 1e3
    suff = layer_jobs("suffstats")
    return {
        "driver_s": self_time(bounds, [(j["start_ms"], j["end_ms"]) for j in jobs]) / 1e3,
        "jobs": len(jobs),
        "stages": sum(j["stages"] for j in jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "task_s": task_s,
        "gc_s": sum(j["gc_ms"] for j in jobs) / 1e3,
        "shuffle_write_mb": sum(j["shuffle_write_bytes"] for j in jobs) / MB,
        "shuffle_read_mb": sum(j["shuffle_read_bytes"] for j in jobs) / MB,
        "util": task_s / (wall_ms / 1e3 * cpus) if wall_ms > 0 else 0.0,
        "glm_jobs": len(layer_jobs("glm")),
        "gram_job_s": job_s("gram"),
        "gram_aggs": len(layer_jobs("gram")),
        "suff_job_s": job_s("suffstats"),
        # the gate's sample scan runs on every fit; the grouped table is
        # cached only when the sample passed and the design collapses
        "suff_gate": 1 if suff else 0,
        "suff_hit": 1 if any(j["cached_bytes"] > 0 for j in suff) else 0,
        "suff_cache_mb": cached_mb("suffstats"),
        "cp_count": len(layer_jobs("checkpoint")),
        "cp_job_s": job_s("checkpoint"),
        "cp_mb": cached_mb("checkpoint"),
        "analysis_s": sum(q["analysis_ms"] for q in queries) / 1e3,
        "optimization_s": sum(q["optimization_ms"] for q in queries) / 1e3,
        "planning_s": sum(q["planning_ms"] for q in queries) / 1e3,
        "actions": len(queries),
    }


def per_layer(doc, workload, cpus, rounds=0):
    """Per-layer metrics of a traced run: medians over its traced ops, and
    over the repetitions of each direct layer call."""
    ops = doc["ops"]
    traced = [o for o in ops if o["traced"]]
    untraced = [o for o in ops if not o["traced"]] or ops

    def breakdown(span, default_layer):
        return _breakdown(span, [j for j in doc["jobs"] if j["op"] == span["i"]],
                          [q for q in doc["queries"] if q["op"] == span["i"]],
                          default_layer, cpus)

    rows = [breakdown(o, OP_LAYER[workload]) for o in traced]
    direct = {}
    for d in doc["direct"]:
        direct.setdefault(d["name"], []).append(
            (d["wall_s"], breakdown(d, DIRECT_LAYER.get(d["name"], "other"))))

    def med(key):
        return median([r[key] for r in rows])

    def info(key):
        return median([o["info"][key] for o in traced if key in o["info"]])

    def direct_s(name):
        return median([wall for wall, _ in direct.get(name, [])])

    def direct_med(name, key):
        return median([r[key] for _, r in direct.get(name, [])])

    gates = sum(r["suff_gate"] for r in rows)
    traced_p50 = median([o["wall_s"] for o in traced])
    untraced_p50 = median([o["wall_s"] for o in untraced])
    per_round = (lambda v: v / rounds) if rounds else (lambda v: 0.0)
    return {
        "glm.iters": info("iters"),
        "glm.jobs": med("glm_jobs"),
        "glm.driver_s": med("driver_s") if OP_LAYER[workload] == "glm" else 0.0,
        "gram.pass_s": direct_s("gram.pass"),
        "gram.job_s": med("gram_job_s"),
        "gram.aggs": med("gram_aggs"),
        "suffstats.job_s": med("suff_job_s"),
        "suffstats.hit_ratio": sum(r["suff_hit"] for r in rows) / gates if gates else 0.0,
        "suffstats.cache_mb": med("suff_cache_mb"),
        "design.levels_s": direct_s("design.levels"),
        "design.p": info("p"),
        "grouped.native_s": direct_s("grouped.native"),
        "grouped.udaf_s": direct_s("grouped.udaf"),
        "grouped.native_task_s": direct_med("grouped.native", "task_s"),
        "grouped.udaf_task_s": direct_med("grouped.udaf", "task_s"),
        # one checkpointed generation per IRLS iteration of the native twin
        "grouped.generations": direct_med("grouped.native", "cp_count"),
        "checkpoint.count": med("cp_count"),
        "checkpoint.job_s": med("cp_job_s"),
        "checkpoint.mb": med("cp_mb"),
        "graph.round_s": per_round(untraced_p50),
        "graph.jobs_per_round": per_round(med("jobs")),
        "graph.compiles_per_round": per_round(median([o["compiles"] for o in traced])),
        "sql.analysis_s": med("analysis_s"),
        "sql.optimization_s": med("optimization_s"),
        "sql.planning_s": med("planning_s"),
        "sql.actions": med("actions"),
        "codegen.compiles": median([o["compiles"] for o in traced]),
        "codegen.compile_s": median([o["compile_ns"] / 1e9 for o in traced]),
        "exec.jobs": med("jobs"),
        "exec.stages": med("stages"),
        "exec.tasks": med("tasks"),
        "exec.task_s": med("task_s"),
        "exec.gc_s": med("gc_s"),
        "exec.shuffle_write_mb": med("shuffle_write_mb"),
        "exec.shuffle_read_mb": med("shuffle_read_mb"),
        "exec.util": med("util"),
        "op.driver_s": med("driver_s"),
        "trace.op_p50_s": traced_p50,
        "trace.untraced_op_p50_s": untraced_p50,
        "trace.overhead_s": traced_p50 - untraced_p50,
        "trace.spans": len(traced) + len(doc["direct"]) + len(doc["jobs"]) + len(doc["queries"]),
    }


def result_line(doc, workload, trace, cpus, rounds=0):
    """The benchmark's result object for one run."""
    ops = doc["ops"]
    failed = sum(1 for o in ops if o["error"])
    if trace:
        values, units = per_layer(doc, workload, cpus, rounds), PER_LAYER
    else:
        values, units = end_to_end(doc), END_TO_END
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }
