"""Metric arithmetic over the harness's raw samples (pure functions)."""
import math
import statistics

from workloads import LAYERS

MIB = float(1 << 20)


def tail_percentile(samples, min_beyond=10):
    """(percentile, value) for the highest whole percentile that still
    has at least `min_beyond` samples above it (nearest-rank), or
    (None, None) when there are too few samples."""
    x = sorted(samples)
    n = len(x)
    for p in range(99, 0, -1):
        k = math.ceil(p * n / 100)
        if k >= 1 and n - k >= min_beyond:
            return p, x[k - 1]
    return None, None


def union_ms(intervals):
    """Total length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
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


def self_times(spans):
    """{span id: its duration minus the part of it that its children
    cover}, in the spans' own time unit."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_ms([(max(c["start_ns"], s["start_ns"]),
                             min(c["end_ns"], s["end_ns"]))
                            for c in kids.get(s["id"], [])
                            if c["end_ns"] > s["start_ns"]
                            and c["start_ns"] < s["end_ns"]])
        out[s["id"]] = s["end_ns"] - s["start_ns"] - covered
    return out


def self_time_table(spans, ops, passes):
    """Self seconds, summed over `ops` and their `passes`, per row: each
    layer's construct and execute spans, the op spans' own remainder,
    and the harness between ops (the passes' own remainder)."""
    st = self_times(spans)
    rows = {}
    for o in ops:
        for kind, sid in (("construct", o["construct_span"]),
                          ("execute", o["execute_span"]),
                          ("op", o["span"])):
            key = f"{o['layer']}.{kind}"
            rows[key] = rows.get(key, 0) + st[sid]
    rows["harness.between_ops"] = sum(st[p["span"]] for p in passes)
    return {k: v / 1e9 for k, v in sorted(rows.items())}


def failures(raw, verdicts):
    """(attempted, failed, ops whose output failed the oracle check).
    Every timed call counts as attempted; it failed if it threw or if
    its op's checked output did not match the oracle."""
    bad = {op for op, v in verdicts.items() if v}
    bad.update(raw["check_failed"])
    timed = [o for o in raw["ops"] if o["phase"] == "timed"]
    failed = sum(1 for o in timed if o["error"] or o["op"] in bad)
    return len(timed), failed, bad


def _median_per_pass(ops, f):
    by_pass = {}
    for o in ops:
        by_pass[o["pass"]] = by_pass.get(o["pass"], 0.0) + f(o)
    return statistics.median(by_pass.values()) if by_pass else 0.0


def _c(o, key):
    return sum(o["counters"][s][key]
               for s in (o["construct_span"], o["execute_span"]))


def busy_s(o):
    """Wall time during which at least one of the op's jobs ran."""
    return union_ms(o["counters"][o["construct_span"]]["job_intervals_ms"]
                    + o["counters"][o["execute_span"]]["job_intervals_ms"]
                    ) / 1e3


def end_to_end(setup_s, timed_ops, passes, resident_bytes):
    walls = [o["wall_s"] for o in timed_ops]
    pct, tail = tail_percentile(walls)
    return {
        "setup_s": setup_s,
        "pass_s": statistics.median(p["op_wall_s"] for p in passes),
        "op_p50_s": statistics.median(walls),
        "resident_mb": (resident_bytes["heap"] + resident_bytes["storage"])
        / MIB,
    }, {"op_tail_s": tail, "op_tail_percentile": pct,
        "op_samples": len(walls)}


def per_layer(traced_ops, untraced_passes, traced_passes, cpus,
              resident_bytes):
    """Per-layer metrics from the traced timed passes."""
    m = {}
    for layer in LAYERS:
        for kind in ("construct", "execute"):
            m[f"{layer}.{kind}_s"] = _median_per_pass(
                [o for o in traced_ops if o["layer"] == layer],
                lambda o, k=kind: o[f"{k}_s"])
    per_pass = lambda f: _median_per_pass(traced_ops, f)
    jobs = sum(_c(o, "jobs") for o in traced_ops)
    stages = sum(_c(o, "stages") for o in traced_ops)
    exec_s = per_pass(lambda o: _c(o, "executor_run_ms") / 1e3)
    wall = per_pass(lambda o: o["wall_s"])
    m.update({
        "spark.jobs": per_pass(lambda o: _c(o, "jobs")),
        "spark.tasks_per_job": (sum(_c(o, "tasks") for o in traced_ops)
                                / jobs if jobs else 0.0),
        "spark.driver_gap_s": per_pass(lambda o: o["wall_s"] - busy_s(o)),
        "spark.sched_delay_s": per_pass(
            lambda o: _c(o, "sched_delay_ms") / 1e3),
        "spark.executor_run_s": exec_s,
        "spark.core_util": exec_s / (wall * cpus) if wall else 0.0,
        "spark.input_mb": per_pass(lambda o: _c(o, "input_bytes") / MIB),
        "spark.shuffle_write_mb": per_pass(
            lambda o: _c(o, "shuffle_write_bytes") / MIB),
        "spark.shuffle_read_mb": per_pass(
            lambda o: _c(o, "shuffle_read_bytes") / MIB),
        "spark.spill_mb": per_pass(lambda o: _c(o, "spill_bytes") / MIB),
        "spark.output_mb": per_pass(lambda o: _c(o, "output_bytes") / MIB),
        "spark.stage_skip_ratio": (sum(_c(o, "stages_skipped")
                                       for o in traced_ops) / stages
                                   if stages else 0.0),
        "spark.gc_s": per_pass(lambda o: o["gc_s"]),
        "spark.tasks_failed": float(sum(_c(o, "tasks_failed")
                                        for o in traced_ops)),
        "streaming.batches": per_pass(lambda o: _c(o, "batches")),
        "streaming.data_batches": per_pass(lambda o: _c(o, "data_batches")),
        "streaming.planning_ms": per_pass(lambda o: _c(o, "planning_ms")),
        "streaming.add_batch_ms": per_pass(lambda o: _c(o, "add_batch_ms")),
        "streaming.wal_ms": per_pass(lambda o: _c(o, "wal_ms")),
        "streaming.state_commit_ms": per_pass(
            lambda o: _c(o, "state_commit_ms")),
        "streaming.state_rows": per_pass(lambda o: _c(o, "state_rows")),
        "streaming.state_mb": per_pass(lambda o: _c(o, "state_bytes") / MIB),
        "storage.resident_mb": resident_bytes["storage"] / MIB,
    })
    trig = [t for o in traced_ops for s in (o["construct_span"],
                                            o["execute_span"])
            for t in o["counters"][s]["trigger_ms"]]
    m["streaming.batch_p50_s"] = statistics.median(trig) / 1e3 if trig else 0.0
    m["trace.overhead_s"] = (
        statistics.median(p["op_wall_s"] for p in traced_passes)
        - statistics.median(p["op_wall_s"] for p in untraced_passes))
    return m
