"""Metrics of one benchmark run, from the runner's record and spans.

Kept apart from run.py so the arithmetic (percentiles, span self time,
per-layer sums) is testable without a JVM: see tests/test_metrics.py.
"""
import math
import statistics


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least a share
    q of all samples at or below it (q in (0, 1])."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    t0, t1 = span["t0"], span["t1"]
    covered = [(max(c["t0"], t0), min(c["t1"], t1)) for c in children]
    return (t1 - t0) - union_length([(a, b) for a, b in covered if b > a])


def warm(record, traced=None):
    return [p for p in record["passes"] if p["kind"] == "warm"
            and (traced is None or p["traced"] == traced)]


def end_to_end(record):
    """The bounded end-to-end metrics, and what goes beside them in the run
    record.

    Set-up time is wall-clock. The pass metrics are the CPU-seconds the JVM
    spent (all threads) serving a pass: the cost of the work. On a shared
    host the hypervisor takes CPU from the guest (steal; measured at 0.5% to
    29% of a 4-vCPU VM's time from one run to the next), which moved
    wall-clock passes of the same code by up to 2.9x and their CPU-seconds
    by 1.7x. The wall-clock pass, the cold pass and the median and 90th
    percentile operation latency (one warm pass of 6 to 10 operations) are
    reported unbounded, with the sample count."""
    passes = warm(record, traced=False)
    lats = [o["lat_s"] for p in passes for o in p["ops"]]
    setup = [s["create_s"] + s["warmup_s"] for s in record["setups"]]
    cold = [p for p in record["passes"] if p["kind"] == "cold"][0]
    return {
        "setup_s": statistics.median(setup),
        "pass_cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "cold_pass_cpu_s": cold["cpu_s"],
    }, {
        "pass_s": statistics.median(p["wall_s"] for p in passes),
        "cold_pass_s": cold["wall_s"],
        "op_p50_s": percentile(lats, 0.5),
        "op_p90_s": percentile(lats, 0.9),
        "op_samples": len(lats),
        "warm_passes": len(passes),
    }


def _tree(spans):
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    root = {}

    def op_of(s):
        chain = []
        while s["id"] not in root and s["name"] != "op" and s["parent"] in by_id:
            chain.append(s)
            s = by_id[s["parent"]]
        r = root.get(s["id"], s if s["name"] == "op" else None)
        for c in chain + [s]:
            root[c["id"]] = r
        return r

    return by_id, kids, op_of


def per_layer(record, spans):
    """Per-layer metrics of the traced warm passes, each per pass, plus the
    set-up split, the serving-index first-call cost and the tracing
    overhead (traced minus untraced median pass wall, same JVM, leaving out
    the first warm pass, which still carries JIT warm-up)."""
    traced_passes = {p["pass"] for p in warm(record, traced=True)}
    n = len(traced_passes)
    by_id, kids, op_of = _tree(spans)
    sel = []
    for s in spans:
        r = op_of(s)
        if r is not None and r["attrs"]["pass"] in traced_passes:
            sel.append(s)
    sec = lambda s: (s["t1"] - s["t0"]) / 1e6
    named = lambda name: [s for s in sel if s["name"] == name]
    stages = named("stage")
    jobs = named("job")
    sum_attr = lambda key: sum(s["attrs"].get(key, 0) for s in stages)
    m = {}
    m["session.create_s"] = statistics.median(s["create_s"] for s in record["setups"])
    m["session.warmup_s"] = statistics.median(s["warmup_s"] for s in record["setups"])

    builds = named("build")
    build_ids = {s["id"] for s in builds}
    m["queries.build_s"] = sum(sec(s) for s in builds) / n
    m["queries.build_jobs"] = sum(1 for j in jobs if j["parent"] in build_ids) / n
    phases = {p: sum(sec(s) for s in named("plan." + p)) / n
              for p in ("analysis", "optimization", "planning")}
    m["plan.plan_s"] = sum(phases.values())
    m["plan.analysis_s"] = phases["analysis"]
    m["plan.optimization_s"] = phases["optimization"]
    m["plan.planning_s"] = phases["planning"]

    execs = named("exec")
    exec_jobs = {e["id"]: [j for j in kids.get(e["id"], []) if j["name"] == "job"] for e in execs}
    busy = sum(union_length([(max(j["t0"], e["t0"]), min(j["t1"], e["t1"]))
                             for j in exec_jobs[e["id"]] if j["t1"] > j["t0"]]) for e in execs) / 1e6
    m["exec.exec_s"] = sum(sec(e) for e in execs) / n
    m["exec.busy_s"] = busy / n
    m["exec.gap_s"] = m["exec.exec_s"] - m["exec.busy_s"]
    m["exec.jobs"] = len(jobs) / n
    m["exec.stages"] = len(stages) / n
    m["exec.tasks"] = sum_attr("tasks") / n
    m["exec.task_run_s"] = sum_attr("task_run_s") / n
    pass_wall = statistics.median(p["wall_s"] for p in warm(record, traced=True))
    m["exec.core_util"] = m["exec.task_run_s"] / (pass_wall * record["cpus"])
    m["exec.single_task_stage_s"] = sum(sec(s) for s in stages if s["attrs"]["num_tasks"] == 1) / n
    m["exec.failed_tasks"] = sum_attr("failed_tasks") / n
    m["exec.retried_tasks"] = sum_attr("retried_tasks") / n
    m["exec.self_s"] = sum(self_time(e, kids.get(e["id"], [])) for e in execs) / 1e6 / n

    m["shuffle.write_mb"] = sum_attr("shuffle_write_bytes") / 2**20 / n
    m["shuffle.read_mb"] = sum_attr("shuffle_read_bytes") / 2**20 / n
    m["shuffle.fetch_wait_s"] = sum_attr("shuffle_fetch_wait_s") / n
    m["mem.gc_s"] = sum_attr("gc_s") / n
    m["mem.spill_mb"] = sum_attr("spill_bytes") / 2**20 / n
    m["mem.peak_exec_mb"] = max([s["attrs"].get("peak_exec_bytes", 0) for s in stages] or [0]) / 2**20
    ops = [o for p in warm(record, traced=True) for o in p["ops"]]
    m["mem.evicted_blocks"] = sum(o["evicted"] for o in ops) / n
    m["mem.rss_peak_mb"] = record["rss_peak_mb"]
    m["jvm.cpu_s"] = statistics.median(p["cpu_s"] for p in warm(record, traced=True))
    m["tables.scan_mb"] = sum_attr("input_bytes") / 2**20 / n
    m["tables.scan_rows"] = sum_attr("input_rows") / n

    for o in ops:
        if o["layer"] == "operators":
            key = o["name"] + "_s"
            m[key] = m.get(key, 0) + o["lat_s"] / n

    # layers a workload does not call are left out (reported as absent)
    dml = [o for o in ops if o["layer"] == "sources" and o["name"].startswith("dml_")]
    if dml:
        dml_spans = named("dml")
        dml_ids = {s["id"] for s in dml_spans}
        dml_stages = [s for s in stages if by_id[s["parent"]]["parent"] in dml_ids]
        m["sources.dml_s"] = sum(sec(s) for s in dml_spans) / n
        m["sources.write_mb"] = sum(s["attrs"].get("output_bytes", 0) for s in dml_stages) / 2**20 / n
        m["sources.files_written"] = sum(o.get("files_written", 0) for o in dml) / n
        changed = sum(o.get("changed_bytes", 0) for o in dml)
        m["sources.write_amp"] = sum(o.get("bytes_written", 0) for o in dml) / changed
    if record["stored_row_bytes"]:
        m["sources.bytes_stored_ratio"] = record["stored_bytes"] / record["stored_row_bytes"]

    index_queries = record["serve_queries"]
    if index_queries:
        serve = [o for o in ops if o["name"] in index_queries]
        cold = [p for p in record["passes"] if p["kind"] == "cold"][0]
        first = {o["name"]: o["lat_s"] for o in cold["ops"] if o["name"] in index_queries}
        warm_med = {q: statistics.median(o["lat_s"] for o in serve if o["name"] == q) for q in first}
        m["serve.index_build_s"] = sum(max(0.0, first[q] - warm_med[q]) for q in first)
        m["serve.probe_s"] = sum(o["lat_s"] for o in serve) / n

    untraced = [p["wall_s"] for p in warm(record, traced=False) if p["pass"] > 1]
    m["trace.overhead_s"] = pass_wall - statistics.median(untraced)
    m["trace.spans"] = len(sel) / n
    return m
