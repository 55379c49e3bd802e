"""Metric definitions and their computation from the load generator's
result.json (see run.py). Every name and unit here must match
BENCHMARK.json; test_smoke.py checks that they do."""
import statistics

WORKLOADS = ["creator_report", "index_lifecycle"]

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}

# short family names of the index_lifecycle queries
FAMILIES = {"ta_bm25_persisted": "bm25", "sim_ivf_persisted": "ivf", "mm_pixel_persisted": "pixel"}

PER_LAYER = {
    # construction
    "construct_s": "s", "construct_jobs": "count",
    # planning
    "plan_s": "s", "plan_analysis_s": "s", "plan_optimizer_s": "s", "plan_physical_s": "s",
    "exchanges": "count",
    # execution
    "exec_s": "s", "jobs": "count", "stages": "count", "tasks": "count", "task_retries": "count",
    "executor_run_s": "s", "executor_cpu_s": "s", "parallelism": "ratio", "scan_tasks": "count",
    "input_bytes": "bytes", "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes", "peak_exec_mem_bytes": "bytes", "gc_s": "s",
    # materialization
    "cached_bytes_peak": "bytes", "cached_bytes_after_op": "bytes",
    # storage
    **{f"index_build_s.{f}": "s" for f in FAMILIES.values()},
    "build_s": "s", "reresolve_s": "s", "index_bytes_written": "bytes", "index_files": "count",
    "index_tables_present": "count", "index_tables_rewritten": "count", "index_reuse_ratio": "fraction",
    # the benchmark itself
    "tracing_overhead_frac": "fraction", "error_frac": "fraction",
}


def units(trace):
    return PER_LAYER if trace else END_TO_END


def _duration(o):
    return o["t2"] - o["t0"]


def end_to_end(result):
    ok = [o for o in result["ops"] if o["ok"]]
    times = sorted(_duration(o) for o in ok) or [0.0]
    window = max(o["t2"] for o in ok) - min(o["t0"] for o in ok) if ok else 0.0
    return {
        "setup_s": result["setup_s"],
        "op_p50_s": statistics.median(times),
        "ops_per_s": len(ok) / window if window > 0 else 0.0,
        "peak_rss_mb": result["vm_hwm_kb"] / 1024.0,
    }


def _union_s(spans):
    """Total seconds covered by (start ms, end ms) intervals."""
    total, end = 0.0, None
    for s, e in sorted((s, e) for _, s, e in spans):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1000.0


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(result):
    traced = [o for o in result["ops"] if o["ok"] and o["layers"]]
    per_op = []
    for o in traced:
        c, f = o["layers"]["construct"], o["layers"]["force"]
        both = lambda k: c[k] + f[k]
        construct_wall = o["t1"] - o["t0"]
        per_op.append({
            "construct_s": max(0.0, construct_wall - _union_s(c["job_spans"])),
            "construct_jobs": c["jobs"],
            "plan_analysis_s": f["analysis_ms"] / 1e3,
            "plan_optimizer_s": f["optimizer_ms"] / 1e3,
            "plan_physical_s": f["physical_ms"] / 1e3,
            "exchanges": f["exchanges"],
            "exec_s": _union_s(c["job_spans"] + f["job_spans"]),
            "jobs": both("jobs"), "stages": both("stages"), "tasks": both("tasks"),
            "task_retries": both("task_retries"), "scan_tasks": both("scan_tasks"),
            "executor_run_s": both("executor_run_ms") / 1e3,
            "executor_cpu_s": both("executor_cpu_ns") / 1e9,
            "input_bytes": both("input_bytes"), "shuffle_read_bytes": both("shuffle_read_bytes"),
            "shuffle_write_bytes": both("shuffle_write_bytes"), "spill_bytes": both("spill_bytes"),
            "peak_exec_mem_bytes": max(c["peak_exec_mem_bytes"], f["peak_exec_mem_bytes"]),
            "gc_s": both("gc_ms") / 1e3,
            "cached_bytes_after_op": o["layers"]["cached_bytes_after"],
        })
    out = {k: _mean([p[k] for p in per_op]) for k in (per_op[0] if per_op else {})}
    for k in PER_LAYER:
        out.setdefault(k, 0.0)
    out["plan_s"] = out["plan_analysis_s"] + out["plan_optimizer_s"] + out["plan_physical_s"]
    out["peak_exec_mem_bytes"] = max([p["peak_exec_mem_bytes"] for p in per_op], default=0)
    exec_total = sum(p["exec_s"] for p in per_op)
    out["parallelism"] = sum(p["executor_run_s"] for p in per_op) / exec_total if exec_total else 0.0
    out["cached_bytes_peak"] = max([o["layers"]["cached_bytes_peak"] for o in traced], default=0)

    its = result["iterations"]
    if its:
        for q, fam in FAMILIES.items():
            out[f"index_build_s.{fam}"] = _median([it["build_s"].get(q, 0.0) for it in its])
        out["build_s"] = _median([sum(it["build_s"].values()) for it in its])
        out["reresolve_s"] = _median([sum(it["reresolve_s"].values()) for it in its])
        out["index_bytes_written"] = _median([it["index_bytes"] for it in its])
        out["index_files"] = _median([it["index_files"] for it in its])
        out["index_tables_present"] = _median([it["tables_present"] for it in its])
        out["index_tables_rewritten"] = _median([it["tables_rewritten"] for it in its])
        out["index_reuse_ratio"] = _median(
            [(it["tables_present"] - it["tables_rewritten"]) / it["tables_present"]
             for it in its if it["tables_present"]])

    wall = sum(_duration(o) for o in traced)
    if wall:
        out["tracing_overhead_frac"] = sum(o["layers"]["tracer_s"] for o in traced) / wall
    return out
