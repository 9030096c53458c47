"""Metric arithmetic of the benchmark: interval unions, the tail rule,
and the reduction of one run record to end-to-end and per-layer values.

Times in the harness record are epoch milliseconds for event instants
and seconds for durations; every value returned here is in the unit its
name states (s, mb, count, share).
"""
import math
import statistics

# Standard percentiles the tail rule may pick from, lowest first.
TAIL_LADDER = (50, 75, 90, 95, 99, 99.9)
TAIL_MIN_BEYOND = 10

END_TO_END = {"wall_s": "s", "first_pass_s": "s", "setup_s": "s", "cpu_s": "s"}

PER_LAYER = {
    "sources.scan_rows": "count", "sources.scan_mb": "MB",
    "sources.write_s": "s", "sources.write_count": "count",
    "queries.build_s": "s", "queries.exec_s": "s",
    "queries.build_jobs": "count", "queries.exec_jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimizer_s": "s",
    "catalyst.planning_s": "s", "catalyst.executions": "count",
    "driver.jobs": "count", "driver.stages": "count",
    "driver.stages_skipped": "count", "driver.tasks": "count",
    "driver.stage_busy_s": "s", "driver.gap_s": "s",
    "driver.gap_share": "share", "driver.gap_ms_per_job": "ms",
    "driver.single_task_stage_s": "s",
    "tasks.run_s": "s", "tasks.cpu_s": "s", "tasks.gc_s": "s",
    "tasks.core_util": "share",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB",
    "shuffle.records": "count", "shuffle.fetch_wait_s": "s",
    "shuffle.spill_mb": "MB",
    "broadcast.count": "count", "broadcast.mb": "MB", "broadcast.build_s": "s",
    "checkpoints.count": "count", "checkpoints.peak_mb": "MB",
    "checkpoints.left_after_query": "count", "checkpoints.release_s": "s",
    "codegen.compiles": "count",
    "jvm.gc_s": "s", "jvm.heap_after_gc_mb": "MB",
    "trace.overhead_s": "s",
}

MB = 1024 * 1024


def union_length(intervals):
    """Total length covered by (start, end) intervals; overlaps count once."""
    total = 0.0
    cur = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur is None or s > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [s, e]
        else:
            cur[1] = max(cur[1], e)
    if cur is not None:
        total += cur[1] - cur[0]
    return total


def clip(intervals, lo, hi):
    """The parts of the intervals that lie inside [lo, hi]."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def busy_and_gap(wall_s, stage_intervals_ms, start_ms, end_ms):
    """Stage-busy seconds (union of stage intervals inside the query's
    window) and driver gap seconds (wall minus busy). Busy is capped at
    wall, so busy + gap == wall."""
    busy = union_length(clip(stage_intervals_ms, start_ms, end_ms)) / 1000.0
    busy = min(busy, wall_s)
    return busy, wall_s - busy


def nearest_rank(sorted_xs, p):
    """(value, samples strictly ranked beyond it) at percentile p."""
    n = len(sorted_xs)
    k = max(1, math.ceil(p / 100.0 * n))
    return sorted_xs[k - 1], n - k


def tail(samples, min_beyond=TAIL_MIN_BEYOND):
    """The highest percentile of TAIL_LADDER with at least `min_beyond`
    samples ranked beyond it: (percentile, value, n). None when even the
    median has fewer than `min_beyond` samples beyond it."""
    xs = sorted(samples)
    if not xs:
        return None
    best = None
    for p in TAIL_LADDER:
        v, beyond = nearest_rank(xs, p)
        if beyond >= min_beyond:
            best = (p, v, len(xs))
    return best


def end_to_end(record, setup_s):
    """End-to-end values of an untraced run record."""
    passes = record["passes"]
    warm = [p for p in passes if p["pass"] > 0]
    def pass_sum(p, key):
        return sum(q[key] for q in p["queries"])
    samples = [q["wall_s"] for p in warm for q in p["queries"] if q["error"] is None]
    t = tail(samples)
    out = {
        "wall_s": statistics.median(pass_sum(p, "wall_s") for p in warm),
        "first_pass_s": pass_sum(passes[0], "wall_s"),
        "setup_s": setup_s,
        "cpu_s": statistics.median(pass_sum(p, "cpu_s") for p in warm),
    }
    # Per-query latencies go to the record only. With two or three
    # queries a workload, their median jumps between queries from run to
    # run, and no percentile has ten samples beyond it (the tail is null).
    info = {"query_p50_s": statistics.median(samples) if samples else None,
            "query_tail_s": t[1] if t else None, "tail_percentile": t[0] if t else None,
            "query_samples": len(samples), "warm_passes": len(warm)}
    return out, info


def query_layers(q, pass_no, trace):
    """Per-layer sums for one query execution of a traced pass."""
    group = f"perfbench/{pass_no}/{q['name']}"
    start, end = q["start_ms"], q["end_ms"]
    jobs = [j for j in trace["jobs"] if j["group"] == group]
    listed = {s for j in jobs for s in j["stage_ids"]}
    stages = [s for s in trace["stages"]
              if s["id"] in listed and start <= s["submit_ms"] <= end and s["complete_ms"] >= 0]
    busy, gap = busy_and_gap(q["wall_s"], [(s["submit_ms"], s["complete_ms"]) for s in stages],
                             start, end)
    execs = [e for e in trace["executions"] if start <= e["at_ms"] <= end]
    in_build = [e for e in execs if e["at_ms"] <= q["build_end_ms"]]
    def ssum(key):
        return sum(s[key] for s in stages)
    def esum(key, xs=execs):
        return sum(e[key] for e in xs)
    writes = [e for e in in_build if e["write"]]
    final = [e["plan"] for e in execs if e["write"] and e["at_ms"] > q["build_end_ms"]]
    return {
        "wall_s": q["wall_s"],
        "sources.scan_rows": esum("scan_rows"),
        "sources.scan_mb": esum("scan_bytes") / MB,
        "sources.write_s": esum("duration_s", writes),
        "sources.write_count": len(writes),
        "queries.build_s": q["build_s"], "queries.exec_s": q["exec_s"],
        "queries.build_jobs": sum(1 for j in jobs if j["submit_ms"] <= q["build_end_ms"]),
        "queries.exec_jobs": sum(1 for j in jobs if j["submit_ms"] > q["build_end_ms"]),
        "catalyst.analysis_s": esum("analysis_s"),
        "catalyst.optimizer_s": esum("optimizer_s"),
        "catalyst.planning_s": esum("planning_s"),
        "catalyst.executions": len(execs),
        "driver.jobs": len(jobs),
        "driver.stages": len(stages),
        "driver.stages_skipped": len(listed - {s["id"] for s in stages}),
        "driver.tasks": ssum("tasks"),
        "driver.stage_busy_s": busy, "driver.gap_s": gap,
        "driver.single_task_stage_s": sum((s["complete_ms"] - s["submit_ms"]) / 1000.0
                                          for s in stages if s["num_tasks"] == 1),
        "tasks.run_s": ssum("run_s"), "tasks.cpu_s": ssum("cpu_s"), "tasks.gc_s": ssum("gc_s"),
        "shuffle.write_mb": ssum("shuffle_write_bytes") / MB,
        "shuffle.read_mb": ssum("shuffle_read_bytes") / MB,
        "shuffle.records": ssum("shuffle_records"),
        "shuffle.fetch_wait_s": ssum("fetch_wait_s"),
        "shuffle.spill_mb": ssum("spill_bytes") / MB,
        "broadcast.count": esum("broadcasts"),
        "broadcast.mb": esum("broadcast_bytes") / MB,
        "broadcast.build_s": esum("broadcast_build_s"),
        "checkpoints.count": sum(1 for e in execs if e["func"] == "localCheckpoint"),
        "checkpoints.left_after_query": q["left_after_query"],
        "checkpoints.release_s": q["release_s"],
        "plan": final[-1] if final else None,
    }


def pass_layers(p, trace, cores):
    """Per-layer sums over every query of one traced pass, with the
    ratios taken over those sums."""
    per_query = [query_layers(q, p["pass"], trace) for q in p["queries"]]
    keys = [k for k in per_query[0] if k != "plan"]
    tot = {k: sum(x[k] for x in per_query) for k in keys}
    tot["driver.gap_share"] = tot["driver.gap_s"] / tot["wall_s"]
    tot["driver.gap_ms_per_job"] = 1000.0 * tot["driver.gap_s"] / max(tot["driver.jobs"], 1)
    tot["tasks.core_util"] = tot["tasks.run_s"] / max(tot["driver.stage_busy_s"] * cores, 1e-9)
    tot["codegen.compiles"] = p["codegen_compiles"]
    return tot, per_query


def per_layer(record):
    """Per-layer values of a traced run record, and the per-query detail.

    Layer sums are medians over the traced warm passes, except the
    first-pass costs (source writes, code generation), which come from
    pass 0, and the JVM's state at the end of the run."""
    trace = record["trace"]
    cores = record["cores"]
    passes = record["passes"]
    first, _ = pass_layers(passes[0], trace, cores)
    traced = [p for p in passes[1:] if p["traced"]]
    untraced = [p for p in passes[1:] if not p["traced"]]
    sums = [pass_layers(p, trace, cores) for p in traced]
    out = {k: statistics.median(s[0][k] for s in sums) for k in PER_LAYER if k in sums[0][0]}
    for k in ("sources.write_s", "sources.write_count", "codegen.compiles"):
        out[k] = first[k]
    peaks = {b["pass"]: b["bytes"] for b in trace["block_peak_bytes"]}
    out["checkpoints.peak_mb"] = statistics.median(peaks.get(p["pass"], 0) for p in traced) / MB
    out["jvm.gc_s"] = record["jvm_gc_s"]
    out["jvm.heap_after_gc_mb"] = record["jvm_heap_after_gc_mb"]
    def wall(p):
        return sum(q["wall_s"] for q in p["queries"])
    out["trace.overhead_s"] = (statistics.median(wall(p) for p in traced)
                               - statistics.median(wall(p) for p in untraced))
    detail = {p["pass"]: q for p, (_, q) in zip(traced, sums)}
    return {k: out[k] for k in PER_LAYER}, detail


def spans(record, setup_s, spawn_ms):
    """The run's spans: setup, then per traced query its build, exec and
    release children, with job spans under the phase that submitted
    them and stage spans under their first job."""
    trace = record["trace"]
    out = [{"id": "setup", "parent": None, "name": "setup",
            "start_ms": spawn_ms, "end_ms": spawn_ms + 1000.0 * setup_s}]
    for p in record["passes"]:
        if not p["traced"]:
            continue
        for q in p["queries"]:
            qid = f"{p['pass']}/{q['name']}"
            out.append({"id": qid, "parent": None, "name": "query", "trace": qid,
                        "start_ms": q["start_ms"], "end_ms": q["end_ms"]})
            bounds = {"build": (q["start_ms"], q["build_end_ms"]),
                      "exec": (q["build_end_ms"], q["exec_end_ms"]),
                      "release": (q["exec_end_ms"], q["end_ms"])}
            for name, (s, e) in bounds.items():
                out.append({"id": f"{qid}/{name}", "parent": qid, "name": name,
                            "trace": qid, "start_ms": s, "end_ms": e})
            group = f"perfbench/{qid}"
            owner = {}
            for j in trace["jobs"]:
                if j["group"] != group:
                    continue
                phase = "build" if j["submit_ms"] <= q["build_end_ms"] else "exec"
                out.append({"id": f"job{j['id']}", "parent": f"{qid}/{phase}", "name": "job",
                            "trace": qid, "start_ms": j["submit_ms"], "end_ms": j["end_ms"]})
                for s in j["stage_ids"]:
                    owner.setdefault(s, f"job{j['id']}")
            for s in trace["stages"]:
                if s["id"] in owner and q["start_ms"] <= s["submit_ms"] <= q["end_ms"]:
                    out.append({"id": f"stage{s['id']}.{s['attempt']}", "parent": owner[s["id"]],
                                "name": "stage", "trace": qid,
                                "start_ms": s["submit_ms"], "end_ms": s["complete_ms"]})
    return out
