"""Arithmetic behind the benchmark's metrics.

Pure functions over the run record the harness writes; the unit tests
in test_metrics.py cover them. Times in the record are epoch
milliseconds (spans, jobs, passes) or seconds (per-operation walls).
"""
import os
import re
import statistics


def percentile(values, p):
    """The p-th percentile (0-100) of values, interpolating linearly
    between the two closest ranks."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    rank = (len(xs) - 1) * p / 100.0
    lo = int(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the (start, end) intervals, each first
    clipped to [lo, hi] when those are given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap_s(span_start_ms, span_end_ms, jobs):
    """Span wall time not covered by any of its jobs' intervals: the
    time the driver spent between and around Spark jobs."""
    busy = union_length([(j["start"], j["end"]) for j in jobs],
                        span_start_ms, span_end_ms)
    return (span_end_ms - span_start_ms - busy) / 1000.0


def outside_batch_s(op_wall_s, trigger_ms):
    """Wall time of a streaming operation outside its micro-batches:
    query start and stop plus any set-up writes."""
    return op_wall_s - sum(trigger_ms) / 1000.0


SITE_RE = re.compile(r"\bat ([A-Za-z0-9_$]+)\.scala:\d+")


def source_modules(src_root):
    """Maps each source file name under src_root (the `graft` package
    directory) to its module: the sub-package for files in one, the
    file's own stem for files at the top (Tables, Pipeline, ...)."""
    modules = {}
    for dirpath, _, files in os.walk(src_root):
        rel = os.path.relpath(dirpath, src_root)
        for f in files:
            if f.endswith(".scala"):
                stem = f[:-len(".scala")]
                modules[stem] = stem if rel == "." else rel.split(os.sep)[0]
    return modules


def module_of(site, modules):
    """Module of a call site, e.g. 'text at PgCopyWriter.scala:77' ->
    'sources'."""
    m = SITE_RE.search(site or "")
    if not m:
        return "other"
    return modules.get(m.group(1), "other")


def job_module(job, modules):
    """Module of a job: the call site in its stage name, or, for a job
    an adaptive query submitted from one of Spark's own threads, the
    call site of the SQL execution it belongs to."""
    mod = module_of(job["site"], modules)
    if mod == "other":
        mod = module_of(job.get("execution_site"), modules)
    return mod


STREAM_PHASES = {
    "trigger_ms": "triggerExecution",
    "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "latest_offset_ms": "latestOffset",
    "get_batch_ms": "getBatch",
}


def end_to_end(record):
    """End-to-end metrics of an untraced run (setup_s is added by the
    caller, which times set-up from outside the JVM)."""
    passes = record["passes"]
    steady = passes[1:]
    return {
        "first_s": passes[0]["wall_s"],
        "wall_s": statistics.median(p["wall_s"] for p in steady),
        "cpu_s": statistics.median(p["cpu_s"] for p in steady),
        "peak_rss_mb": record["peak_rss_kb"] / 1024.0,
    }


def microbatch_p50_ms(record):
    """Median trigger time of the micro-batches that ended inside a
    steady pass, or None when there were none."""
    steady = record["passes"][1:]
    ms = [b["trigger_ms"] for b in record.get("batches", [])
          if any(p["start_ms"] <= b["end_ms"] <= p["end_ms"] for p in steady)]
    return percentile(ms, 50) if ms else None


def per_layer(record, modules):
    """Per-layer metrics of a traced run: each is the mean over its
    traced steady passes, except operators.first_extra_s (the cold
    pass against the steady ones) and trace.overhead_pct (traced
    against untraced steady passes)."""
    tr = record["trace"]
    passes = record["passes"]
    traced = [p for p in passes[1:] if p["traced"]]
    untraced = [p for p in passes[1:] if not p["traced"]]
    per_pass = [_pass_layers(p, tr, modules, int(record["cores"])) for p in traced]
    out = {k: statistics.fmean(d[k] for d in per_pass) for k in per_pass[0]}

    # first-pass cost per operation over its median traced steady time
    steady_ops = {}
    for p in traced:
        for o in p["ops"]:
            steady_ops.setdefault(o["op"], []).append(o["s"])
    out["operators.first_extra_s"] = sum(
        o["s"] - statistics.median(steady_ops[o["op"]])
        for o in passes[0]["ops"] if o["op"] in steady_ops)

    triggers = [e["durations"].get("triggerExecution", 0)
                for e in tr["progress"] if e["pass"] in {p["index"] for p in traced}]
    out["streaming.microbatch_p50_ms"] = percentile(triggers, 50) if triggers else 0.0
    t = statistics.median(p["wall_s"] for p in traced)
    u = statistics.median(p["wall_s"] for p in untraced)
    out["trace.overhead_pct"] = (t / u - 1.0) * 100.0
    return out


def _pass_layers(p, tr, modules, cores):
    idx = p["index"]
    spans = [s for s in tr["spans"] if s["pass"] == idx]
    jobs = [j for j in tr["jobs"] if j["pass"] == idx and j["end"] >= 0]
    progress = [e for e in tr["progress"] if e["pass"] == idx]
    executed = [x for x in tr["executed"] if x["pass"] == idx]

    def span_s(name):
        return sum(s["nanos"] for s in spans if s["name"] == name) / 1e9

    def mod_jobs(mod):
        return [j for j in jobs if job_module(j, modules) == mod]

    def job_s(js):
        return sum(j["end"] - j["start"] for j in js) / 1000.0

    build = [(s["start"], s["end"]) for s in spans if s["name"] == "operators.build"]
    m = {
        "Tables.load_jobs": len(mod_jobs("Tables")),
        "Tables.load_s": job_s(mod_jobs("Tables")),
        "schema.introspect_s": span_s("schema.introspect"),
        "rules.schema_s": span_s("rules.schema"),
        "rules.plan_s": span_s("rules.plan"),
        "Pipeline.jobs": len(mod_jobs("Pipeline")),
        "Pipeline.job_s": job_s(mod_jobs("Pipeline")),
        "sources.jobs": len(mod_jobs("sources")),
        "sources.job_s": job_s(mod_jobs("sources")),
        "sources.out_mb": sum(j["out_bytes"] for j in mod_jobs("sources")) / 1e6,
        "sources.out_rows": sum(j["out_records"] for j in mod_jobs("sources")),
        "sqlgen.artifacts_s": span_s("sqlgen.artifacts"),
        "operators.build_s": span_s("operators.build"),
        "operators.build_jobs": sum(
            1 for j in jobs if any(s <= j["start"] <= e for s, e in build)),
        "operators.exec_s": span_s("operators.exec"),
        "plans.plan_s": span_s("plans.plan"),
        "plans.exchanges": sum(x["exchanges"] for x in executed),
        "plans.broadcasts": sum(x["broadcasts"] for x in executed),
        "plans.scans": sum(x["scans"] for x in executed),
        "streaming.batches": len(progress),
        "streaming.input_rows": sum(e["input_rows"] for e in progress),
        "streaming.state_rows": sum(e["state_rows"] for e in progress),
    }
    for name, key in STREAM_PHASES.items():
        m["streaming." + name] = sum(e["durations"].get(key, 0) for e in progress)
    triggers = {}
    for e in progress:
        triggers.setdefault(e["op"], []).append(e["durations"].get("triggerExecution", 0))
    m["streaming.outside_batch_s"] = sum(
        outside_batch_s(o["s"], triggers[o["op"]])
        for o in p["ops"] if o["op"] in triggers)

    task_s = sum(j["run_ms"] for j in jobs) / 1000.0
    wall_s = (p["end_ms"] - p["start_ms"]) / 1000.0
    m.update({
        "spark.jobs": len(jobs),
        "spark.stages": sum(j["stages"] for j in jobs),
        "spark.tasks": sum(j["tasks"] for j in jobs),
        "spark.task_s": task_s,
        "spark.task_cpu_s": sum(j["cpu_ns"] for j in jobs) / 1e9,
        "spark.gc_s": sum(j["gc_ms"] for j in jobs) / 1000.0,
        "spark.shuffle_read_mb": sum(j["shuffle_read"] for j in jobs) / 1e6,
        "spark.shuffle_write_mb": sum(j["shuffle_write"] for j in jobs) / 1e6,
        "spark.spill_mb": sum(j["spill"] for j in jobs) / 1e6,
        "spark.input_mb": sum(j["in_bytes"] for j in jobs) / 1e6,
        "spark.output_mb": sum(j["out_bytes"] for j in jobs) / 1e6,
        "spark.core_util": task_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "spark.driver_gap_s": driver_gap_s(p["start_ms"], p["end_ms"], jobs),
    })
    return m
