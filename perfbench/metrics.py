"""Arithmetic behind the reported metrics: percentiles, fail ratio,
span self time, core utilisation and the per-run summaries.

Pure functions over the harness's run.json records; test_metrics.py
checks them on synthetic input.
"""


def percentile(values, q):
    """Linearly interpolated percentile (q in [0, 100]) of `values`,
    the same rule as numpy's default."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def fail_ratio(failed, attempted):
    """Ops that threw or failed their output check, over ops attempted."""
    if attempted <= 0:
        raise ValueError("no ops attempted")
    return failed / attempted


def self_times(spans):
    """Self time of each span in seconds: its duration minus the
    durations of its direct children. Returns {span id: seconds}."""
    dur = {s["id"]: (s["end_ns"] - s["start_ns"]) / 1e9 for s in spans}
    own = dict(dur)
    for s in spans:
        if s["parent"] in own:
            own[s["parent"]] -= dur[s["id"]]
    return own


def self_by_name(spans):
    """Total self time per span name, over ops with id >= 0 (warm-up
    ops are recorded with op -1)."""
    own = self_times(spans)
    out = {}
    for s in spans:
        if s["op"] >= 0:
            out[s["name"]] = out.get(s["name"], 0.0) + own[s["id"]]
    return out


def core_util(task_run_s, wall_s, cores):
    """Task run time over the core-seconds available in `wall_s`."""
    if wall_s <= 0 or cores <= 0:
        raise ValueError("core_util needs positive wall and cores")
    return task_run_s / (wall_s * cores)


def latency(run):
    """Wall-clock figures of one run: time per pass and op percentiles."""
    lat = [o["op_s"] for o in run["ops"]]
    return {
        "pass_s": (sum(lat) / run["passes"], "s"),
        "op_p50_ms": (percentile(lat, 50) * 1e3, "ms"),
        "op_p80_ms": (percentile(lat, 80) * 1e3, "ms"),
    }


def end_to_end(run):
    """User-visible metrics of one run (trace off) that hold steady on a
    shared host: set-up time (JVM start to the first timed op), CPU paid
    per pass and the memory the program holds (live heap plus peak
    memory outside the heap). The wall-clock figures follow the host's
    speed and steal time and are reported with the layers (README.md)."""
    return {
        "setup_s": (run["setup_s"], "s"),
        "cpu_s": (sum(o["cpu_s"] for o in run["ops"]) / run["passes"], "s"),
        "mem_mb": (run["heap_live_mb"] + run["native_peak_mb"], "MB"),
    }


def _mean(ops, key):
    return sum(o.get(key, 0.0) for o in ops) / len(ops)


def per_layer(run, spans, failed):
    """Layer split of one traced run. Shares are of total op time; the
    absolute per-op figures are means over the run's ops. Per-job time
    and core use are over execution time: the noop write's for batch
    ops, the whole micro-batch for stream ops."""
    ops = run["ops"]
    n = len(ops)
    wall = sum(o["op_s"] for o in ops)
    own = self_by_name(spans)

    def share(*names):
        return sum(own.get(x, 0.0) for x in names) / wall

    stream = [k for k in own if k.startswith("stream.") and k != "stream.add"]

    def op_share(key):
        return sum(o.get(key, 0.0) for o in ops) / wall
    run_s = sum(o.get("exec.task_run_s", 0.0) for o in ops)
    exec_s = sum(o.get("exec_s", o["op_s"]) for o in ops)
    jobs = sum(o.get("exec.jobs", 0) for o in ops)
    out = dict(latency(run), **{
        "op_samples": (n, "count"),
        "tables.share": (share("tables"), "ratio"),
        "tables.resolve_jobs": (_mean(ops, "tables_jobs"), "count"),
        "build.share": (share("build"), "ratio"),
        "build_jobs": (_mean(ops, "build_jobs"), "count"),
        "build.zero_job_ops": (sum(1 for o in ops if "build_jobs" in o and o["build_jobs"] == 0) / n, "ratio"),
        "plan.share": (share("plan"), "ratio"),
        "plan.analysis_share": (op_share("plan.analysis_s"), "ratio"),
        "plan.optimization_share": (op_share("plan.optimization_s"), "ratio"),
        "plan.planning_share": (op_share("plan.planning_s"), "ratio"),
        "exec.share": (share("exec"), "ratio"),
        "stream.share": (share(*stream), "ratio"),
        "stream.add_share": (share("stream.add"), "ratio"),
        "stream.trigger_share": (op_share("stream.trigger_s"), "ratio"),
        "stream.add_batch_share": (op_share("stream.add_batch_s"), "ratio"),
        "stream.commit_share": (op_share("stream.commit_s"), "ratio"),
        "stream.planning_share": (op_share("stream.planning_s"), "ratio"),
        "stream.wait_share": (op_share("stream.wait_s"), "ratio"),
        "input.rows_per_s": (sum(o.get("rows", o.get("exec.input_rows", 0)) for o in ops) / wall, "1/s"),
        "self.share": (share("op"), "ratio"),
        "exec_jobs": (jobs / n, "count"),
        "exec.s_per_job": (exec_s / max(1, jobs), "s"),
        "exec.stages": (_mean(ops, "exec.stages"), "count"),
        "exec.tasks": (_mean(ops, "exec.tasks"), "count"),
        "exec.task_cpu_s": (_mean(ops, "exec.task_cpu_s"), "s"),
        "exec.sched_delay_s": (_mean(ops, "exec.sched_delay_s"), "s"),
        "jvm.gc_s": (_mean(ops, "gc_s"), "s"),
        "exec.core_util": (core_util(run_s, exec_s, run["cores"]), "ratio"),
        "exec.shuffle_mb": (_mean(ops, "exec.shuffle_mb"), "MB"),
        "exec.spill_mb": (_mean(ops, "exec.spill_mb"), "MB"),
        "exec.peak_mem_mb": (max(o.get("exec.peak_mem_mb", 0.0) for o in ops), "MB"),
        "cache.persisted_mb": (_mean(ops, "cache.persisted_mb"), "MB"),
        "cache.rdds": (_mean(ops, "cache.rdds"), "count"),
        "stream.state_rows": (_mean(ops, "stream.state_rows"), "count"),
        "stream.state_mb": (_mean(ops, "stream.state_mb"), "MB"),
        "stream.dropped_rows": (_mean(ops, "stream.dropped_rows"), "count"),
        "trace.overhead_s": (_mean(ops, "trace_s"), "s"),
        "fail_ratio": (fail_ratio(failed, n), "ratio"),
        "jvm.heap_live_mb": (run["heap_live_mb"], "MB"),
        "jvm.native_peak_mb": (run["native_peak_mb"], "MB"),
    })
    for k in ("host.steal_pct", "host.other_cpu_pct", "host.load1"):
        out[k] = (run["host"][k], "%" if k.endswith("pct") else "load")
    return out
