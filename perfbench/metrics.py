"""Turns the harness's per-pass records into the benchmark's metrics.

End-to-end metrics come from untraced passes; per-layer metrics from traced
ones. Both are pure functions of the harness result, so the arithmetic
(percentiles, job-interval union, driver gap) is unit-tested on its own.
"""
import statistics


def percentile(xs, q):
    """Linear-interpolation percentile, q in [0, 100]."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    k = (len(s) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(xs, q, min_above=10):
    """The q-th percentile, or None unless at least `min_above` samples lie
    strictly above it: a tail read off fewer samples is one outlier."""
    if not xs:
        return None
    p = percentile(xs, q)
    return p if sum(1 for x in xs if x > p) >= min_above else None


def union_length(intervals):
    """Total length covered by (start, end) intervals; overlaps count once."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap(op_walls, jobs_ms):
    """Seconds of query wall time during which no Spark job ran: the sum of
    the ops' walls minus the union of the job intervals (epoch ms)."""
    return sum(op_walls) - union_length(jobs_ms) / 1e3


def median(xs):
    return statistics.median(xs)


def _warm(result, traced):
    return [p for p in result["passes"]
            if p["kind"] == "warm" and p["traced"] == traced]


def pass_median(passes, key):
    """Median over the given passes of the pass's total `key` ("wall",
    "cpu" or "jit") over its queries. Costs that land on whichever query
    happens to be running (a GC, a background thread) stay in the pass."""
    return median([sum(o[key] for o in p["ops"]) for p in passes])


def end_to_end(result, setups):
    """`setups` holds one (session_s, fixtures_s) pair per set-up."""
    return {
        "setup_s": median([s + f for s, f in setups]),
        "warm_cpu_s": pass_median(_warm(result, False), "cpu"),
    }


def _pass_layers(p):
    """Layer totals of one traced pass."""
    t = p["trace"]
    c = t["counters"]
    ops = p["ops"]
    jobs = t["jobs"]

    def phase_busy(ph):
        return union_length([(s, e) for s, e, f in jobs if f == ph]) / 1e3

    build = sum(o["build"] for o in ops)
    plan = sum(o["plan"] for o in ops)
    action = sum(o["action"] for o in ops)
    run_s = c["task_run_ms"] / 1e3
    cpu_s = c["task_cpu_ns"] / 1e9
    mb = 1e6
    return {
        "entry.build_s": build,
        "entry.build_jobs": sum(1 for j in jobs if j[2] == "build"),
        "entry.self_s": build - phase_busy("build"),
        "catalyst.plan_s": plan,
        "catalyst.self_s": plan - phase_busy("plan"),
        "catalyst.analysis_s": t["catalyst_s"]["analysis"],
        "catalyst.optimization_s": t["catalyst_s"]["optimization"],
        "catalyst.planning_s": t["catalyst_s"]["planning"],
        "action.wall_s": action,
        "action.self_s": action - phase_busy("action"),
        "sched.jobs": len(jobs),
        "sched.stages": c["stages"],
        "sched.tasks": c["tasks"],
        "sched.job_busy_s": union_length([(s, e) for s, e, _ in jobs]) / 1e3,
        "sched.driver_gap_s": driver_gap([o["wall"] for o in ops],
                                         [(s, e) for s, e, _ in jobs]),
        "exec.task_run_s": run_s,
        "exec.task_cpu_s": cpu_s,
        "exec.gc_s": c["gc_ms"] / 1e3,
        "exec.cpu_per_run": cpu_s / run_s if run_s else 0.0,
        "scan.mb_read": c["input_bytes"] / mb,
        "scan.records_read": c["input_records"],
        "shuffle.mb_written": c["shuffle_write_bytes"] / mb,
        "shuffle.mb_read": c["shuffle_read_bytes"] / mb,
        "shuffle.fetch_wait_s": c["shuffle_fetch_wait_ms"] / 1e3,
        "shuffle.spill_mb": c["spill_bytes"] / mb,
        "storage.mb_stored": c["stored_bytes"] / mb,
        "stream.batches": len(t["batch_ms"]),
        "stream.trigger_s": t["stream_s"]["triggerExecution"],
        "stream.addBatch_s": t["stream_s"]["addBatch"],
        "stream.queryPlanning_s": t["stream_s"]["queryPlanning"],
        "stream.walCommit_s": t["stream_s"]["walCommit"],
        "stream.latestOffset_s": t["stream_s"]["latestOffset"],
        "stream.getBatch_s": t["stream_s"]["getBatch"],
        "stream.commitOffsets_s": t["stream_s"]["commitOffsets"],
        "stream.state_rows": t["state_rows"],
    }


def per_layer(result, setups, failed, attempted):
    traced = _warm(result, True)
    untraced = _warm(result, False)
    per_pass = [_pass_layers(p) for p in traced]
    out = {k: median([d[k] for d in per_pass]) for k in per_pass[0]}
    batches = [b for p in traced for b in p["trace"]["batch_ms"]]
    p90 = tail_percentile(batches, 90)
    out["stream.batch_p50_ms"] = percentile(batches, 50) if batches else 0.0
    # 0 when fewer than ten batches lie above the 90th percentile
    out["stream.batch_p90_ms"] = p90 if p90 is not None else 0.0
    cold = next(p for p in result["passes"] if p["kind"] == "cold")["ops"]
    out["cold.wall_s"] = sum(o["wall"] for o in cold)
    out["cold.cpu_s"] = sum(o["cpu"] for o in cold)
    out["cold.jit_s"] = sum(o["jit"] for o in cold)
    out["warm.wall_s"] = pass_median(untraced, "wall")
    out["warm.jit_s"] = pass_median(untraced, "jit")
    prime = result["prime"]
    out["etl.builder_s"] = result["prime_s"]
    out["etl.files_written"] = result["prime_files"]
    out["etl.mb_written"] = result["prime_bytes"] / 1e6
    out["etl.records_written"] = (
        prime["counters"]["output_records"] if prime else 0)
    out["etl.mb_per_s"] = (result["prime_bytes"] / 1e6 / result["prime_s"]
                           if result["prime_s"] else 0.0)
    out["jvm.rss_peak_mb"] = result["rss_peak_mb"]
    out["setup.session_s"] = median([s for s, _ in setups])
    out["setup.fixtures_s"] = median([f for _, f in setups])
    out["trace.overhead_s"] = (median([p["wall"] for p in traced])
                               - median([p["wall"] for p in untraced]))
    samples = [o["wall"] for p in untraced for o in p["ops"]]
    out["query.p50_s"] = percentile(samples, 50)
    out["query.samples"] = len(samples)
    out["fail_ratio"] = failed / attempted
    return out
