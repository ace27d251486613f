"""Per-layer metrics of a traced run. Every traced run reports every name
in PER_LAYER; a layer a workload never calls reads 0."""
from . import stats

FUNCTIONS = ("ArrayDot", "SrpBuckets", "PqCodes", "TokenRuns", "ShingleRuns",
             "BpeMergeRuns", "WinnowRuns")
# span names whose self time is reported as self.<name>_ms
SELF_SPANS = ("op", "queries.build", "execute", "plan.analysis", "plan.optimization",
              "plan.planning", "job", "stage", "config", "sources", "sources.page",
              "extract", "transform", "load")

# (name, unit, better)
PER_LAYER = [
    ("queries.build_ms", "ms", "lower"),
    ("plan.analysis_ms", "ms", "lower"),
    ("plan.optimization_ms", "ms", "lower"),
    ("plan.planning_ms", "ms", "lower"),
    ("plan.aqe_updates", "count", "lower"),
    ("codegen.compiles", "count", "lower"),
    ("codegen.compile_ms", "ms", "lower"),
    ("sched.jobs", "count", "lower"),
    ("sched.stages", "count", "lower"),
    ("sched.tasks", "count", "lower"),
    ("sched.driver_gap_ms", "ms", "lower"),
    ("sched.useful_task_ratio", "ratio", "higher"),
    ("exec.task_run_ms", "ms", "lower"),
    ("exec.task_cpu_ms", "ms", "lower"),
    ("exec.gc_ms", "ms", "lower"),
    ("exec.busy_ratio", "ratio", "higher"),
    ("shuffle.read_bytes", "B", "lower"),
    ("shuffle.write_bytes", "B", "lower"),
    ("spill.mem_bytes", "B", "lower"),
    ("spill.disk_bytes", "B", "lower"),
    ("io.files_discovered", "count", "lower"),
    ("io.file_cache_hits", "count", "higher"),
    ("io.input_bytes", "B", "lower"),
    ("io.rows_examined_per_row", "ratio", "lower"),
    ("ops.cache_blocks", "count", "lower"),
    ("ops.cache_bytes", "B", "lower"),
] + [(f"fn.{f}.rows_per_s", "rows/s", "higher") for f in FUNCTIONS] + [
    ("stream.batches", "count", "lower"),
    ("stream.batch_ms", "ms", "lower"),
    ("stream.add_batch_ms", "ms", "lower"),
    ("stream.wal_commit_ms", "ms", "lower"),
    ("stream.state_commit_ms", "ms", "lower"),
    ("stream.state_rows_updated", "count", "lower"),
    ("stream.state_mem_bytes", "B", "lower"),
    ("stream.outside_batch_ms", "ms", "lower"),
    ("sources.pages", "count", "lower"),
    ("sources.retries", "count", "lower"),
    ("sources.bytes", "B", "lower"),
    ("sources.serve_ms", "ms", "lower"),
    ("sources.read_ms", "ms", "lower"),
    ("extract.ms", "ms", "lower"),
    ("extract.rows_in", "count", "lower"),
    ("extract.rows_out", "count", "lower"),
    ("transform.ms", "ms", "lower"),
    ("transform.pivot_columns", "count", "lower"),
    ("load.ms", "ms", "lower"),
    ("load.jobs", "count", "lower"),
    ("load.bytes_written", "B", "lower"),
    ("load.bytes_per_user_byte", "ratio", "lower"),
    ("load.files_written", "count", "lower"),
    ("pipeline.self_ms", "ms", "lower"),
    ("spec.parse_ms", "ms", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
    ("mem.peak_rss_mb", "MB", "lower"),
] + [(f"self.{s}_ms", "ms", "lower") for s in SELF_SPANS]


def per_layer(kind, traced, untraced, user_bytes, cpus, result_rows, drains=()):
    """name -> (value, unit) for every PER_LAYER metric. `drains` names the
    streaming queries among the ops."""
    tr = traced["trace"]
    tot = tr["totals"]
    spans = tr["spans"]
    v = {name: 0.0 for name, _, _ in PER_LAYER}
    for k in v:
        if k in tot:
            v[k] = float(tot[k])
    roots = {s["op"]: s for s in spans if s["parent"] == -1}
    op_ms = sum(s["end"] - s["start"] for s in roots.values())
    gap = 0.0
    for rec in tr["ops"]:
        root = roots.get(rec["op"])
        if root:
            jobs = [(j["start"], j["end"]) for j in rec["jobs"]]
            gap += (root["end"] - root["start"]) - stats.union_length(jobs, root["start"], root["end"])
    v["sched.driver_gap_ms"] = gap
    tasks = tot.get("sched.tasks", 0.0)
    v["sched.useful_task_ratio"] = tot.get("sched.useful_tasks", 0.0) / tasks if tasks else 0.0
    v["exec.busy_ratio"] = tot.get("exec.task_run_ms", 0.0) / (op_ms * cpus) if op_ms else 0.0
    v["io.rows_examined_per_row"] = tot.get("io.input_records", 0.0) / max(1, result_rows)
    for f, rate in traced.get("functions", {}).items():
        v[f"fn.{f}.rows_per_s"] = rate
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    dur = lambda name: sum(s["end"] - s["start"] for s in by_name.get(name, []))
    if kind == "etl":
        reqs = traced["stub"]["requests"]
        v["sources.pages"] = sum(1 for r in reqs if r["page"] and r["status"] == 200)
        v["sources.retries"] = sum(1 for r in reqs if r["status"] != 200)
        v["sources.bytes"] = sum(r["bytes"] for r in reqs)
        v["sources.serve_ms"] = sum(r["end"] - r["start"] for r in reqs)
        v["extract.rows_in"] = sum(r["rows"] for r in reqs)
        read = 0.0
        for c in traced["configs"]:
            inside = [r for r in reqs if c["start"] <= r["start"] and r["end"] <= c["end"]]
            if inside:
                read += max(r["end"] for r in inside) - min(r["start"] for r in inside)
        v["sources.read_ms"] = read
        v["extract.ms"] = dur("extract")
        v["extract.rows_out"] = sum(c["rows"] for c in traced["configs"])
        v["transform.ms"] = dur("transform")
        v["transform.pivot_columns"] = sum(c["pivot_columns"] for c in traced["configs"])
        v["load.ms"] = dur("load")
        loads = [(s["start"], s["end"]) for s in by_name.get("load", [])]
        v["load.jobs"] = sum(1 for rec in tr["ops"] for j in rec["jobs"]
                             if any(a <= j["start"] <= b for a, b in loads))
        v["load.bytes_written"] = tot.get("io.output_bytes", 0.0)
        v["load.bytes_per_user_byte"] = v["load.bytes_written"] / user_bytes if user_bytes else 0.0
        v["load.files_written"] = sum(c["files_written"] for c in traced["configs"])
        v["pipeline.self_ms"] = (sum(t["wall_s"] for t in traced["triggers"])
                                 - sum(c["wall_s"] for c in traced["configs"])) * 1000
        v["spec.parse_ms"] = sum(t["parse_ms"] for t in traced["triggers"])
        mean = lambda r: sum(c["wall_s"] for c in r["configs"]) / len(r["configs"])
        v["trace.overhead_frac"] = mean(traced) / mean(untraced) - 1
    else:
        v["queries.build_ms"] = sum(o["build_s"] for o in traced["ops"]) * 1000
        drain_ms = sum(roots[i]["end"] - roots[i]["start"]
                       for i, o in enumerate(traced["ops"]) if o["name"] in drains and i in roots)
        if drain_ms:
            v["stream.outside_batch_ms"] = drain_ms - tot.get("stream.batch_ms", 0.0)
        v["trace.overhead_frac"] = (sum(o["wall_s"] for o in traced["ops"])
                                    / sum(o["wall_s"] for o in untraced["ops"]) - 1)
    v["mem.peak_rss_mb"] = traced["peak_rss_mb"]
    for name, t in stats.self_times(spans).items():
        if f"self.{name}_ms" in v:
            v[f"self.{name}_ms"] = t
    units = {name: unit for name, unit, _ in PER_LAYER}
    return {k: (val, units[k]) for k, val in v.items()}
