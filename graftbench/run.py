#!/usr/bin/env python3
"""graft benchmark: one closed-loop client, one workload, one seed.

    python3 graftbench/run.py --workload etl_qa --seed 1 --seconds 20 --trace 0

Builds the program if needed (graftbench/build.py), generates the
workload's inputs from the seed (graftbench/gen.py), runs the JVM
harness in a fresh work dir, checks every op's output against its
DuckDB oracle, and prints one JSON object as the last line of stdout:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Lines before it give the detail (per-op medians, warm-up, tail
percentile, oracle verdicts, and the self-time table when traced).
Exits non-zero without a result line when the build or run fails.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
from workloads import WORKLOADS, sink  # noqa: E402

DEADLINE_S = 170
JVM_HEAP = "3g"
# warm-up after the cold pass: stop when two passes in a row agree
# within LEVEL_TOL, or once the warm passes have spent WARMUP_S seconds
WARMUP_S = 4.0
LEVEL_TOL = 0.05
ARCHIVE_ROWS = {"customer": 500, "orders": 5_000, "events": 2_000,
                "documents": 100, "embeddings": 100}

def unit(name):
    for suffix, u in (("_s", "s"), ("_ms", "ms"), ("_mb", "MiB")):
        if name.endswith(suffix):
            return u
    return "ratio" if name.endswith(("_ratio", "_util")) else "count"


def cpus():
    return max(1, min(4, len(os.sched_getaffinity(0))))


def class_archive(jar):
    """A class-data-sharing archive of the classes a run loads, dumped
    once per build by one cold pass of every workload's ops on small
    inputs, so that every measured run maps the same archive."""
    archive = jar + ".jsa"
    if os.path.exists(archive) and (os.path.getmtime(archive)
                                    > os.path.getmtime(jar)):
        return archive
    work = os.path.join(build.build_dir(), "runs", f"archive-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    try:
        gen.generate(data, ARCHIVE_ROWS, 0)
        plan = [(op, layer, sink(op)) for wl in WORKLOADS.values()
                for op, layer in wl["ops"]]
        run_harness(jar, work, plan, data, 0, 0, 600, warmup_s=0,
                    jvm_opts=[f"-XX:ArchiveClassesAtExit={archive}.tmp"])
        os.replace(archive + ".tmp", archive)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return archive


def run_harness(jar, work, plan, data, seconds, trace, budget_s,
                warmup_s=WARMUP_S, jvm_opts=()):
    plan_file = os.path.join(work, "plan.tsv")
    with open(plan_file, "w") as f:
        f.writelines(f"{op}\t{layer}\t{snk}\n" for op, layer, snk in plan)
    out = os.path.join(work, "samples.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cp = os.pathsep.join([jar] + build.spark_jars())
    # a fixed heap, so the GC between ops cannot shrink it; no JVM
    # perf-data file outside the work dir
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{JVM_HEAP}",
            f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"] +
           list(jvm_opts) + build.JDK_OPENS +
           ["-cp", cp, "graftbench.Harness", "--plan", plan_file,
            "--data", data, "--work", work, "--seconds", str(seconds),
            "--trace", str(trace), "--cpus", str(cpus()),
            "--warmup-s", str(warmup_s), "--level-tol", str(LEVEL_TOL),
            "--out", out])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"harness exceeded {budget_s:.0f} s")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"harness exited with {rc}")
    with open(out) as f:
        return json.load(f)


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # on SIGTERM, unwind so the JVM is killed and the work dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        jar = build.build()
        archive = class_archive(jar)
    except (build.BuildError, RuntimeError) as e:
        sys.exit(f"build failed: {e}")
    t_start = time.time()
    wl = WORKLOADS[args.workload]
    work = os.path.join(build.build_dir(), "runs",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    try:
        # set-up starts here: input generation, JVM and session start,
        # staging and warm-up (ends at the harness's setup_end_ms)
        t0 = time.time()
        rows = gen.generate(data, wl["rows"], args.seed)
        plan = [(op, layer, sink(op)) for op, layer in wl["ops"]]
        raw = run_harness(jar, work, plan, data, args.seconds,
                          args.trace, DEADLINE_S - (time.time() - t_start),
                          jvm_opts=[f"-XX:SharedArchiveFile={archive}"])
        setup_s = raw["setup_end_ms"] / 1e3 - t0
        t1 = time.time()
        ops = [op for op, _ in wl["ops"]]
        verdicts = check.check_all(data, list(rows),
                                   os.path.join(work, "check"),
                                   raw["oracle"], ops)
        check_s = time.time() - t1
    except Exception as e:
        sys.exit(f"run failed: {e}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for op in raw["check_failed"]:
        verdicts[op] = "threw in the check pass"
    attempted, failed, bad_ops = metrics.failures(raw, verdicts)
    timed = [o for o in raw["ops"] if o["phase"] == "timed"]
    untraced = [o for o in timed if not o["traced"]]
    traced = [o for o in timed if o["traced"]]
    passes = [p for p in raw["passes"] if p["phase"] == "timed"]

    e2e, detail = metrics.end_to_end(
        setup_s, untraced, [p for p in passes if not p["traced"]],
        raw["resident_bytes"])
    print(f"# workload {args.workload} seed {args.seed}: rows {rows}")
    print(f"# warm-up: {raw['warmup']}")
    print(f"# run wall {time.time() - t_start:.1f} s: setup {setup_s:.1f} s, "
          f"oracle check {check_s:.1f} s")
    print("# timed passes (op wall s): " + " ".join(
        f"{p['op_wall_s']:.3f}{'T' if p['traced'] else ''}" for p in passes))
    print(f"# op_tail_s {detail['op_tail_s']} is p"
          f"{detail['op_tail_percentile']} of {detail['op_samples']} op "
          f"samples (highest percentile with ten samples beyond it)")
    for op in ops:
        w = [o["wall_s"] for o in untraced if o["op"] == op]
        c = [o["construct_s"] for o in untraced if o["op"] == op]
        wu = " ".join(f"{o['wall_s']:.2f}" for o in raw["ops"]
                      if o["op"] == op and o["phase"] == "warmup")
        print(f"# {op:26s} wall {statistics.median(w):7.3f} s  construct "
              f"{statistics.median(c):7.3f} s  n={len(w)}  warm-up {wu}  "
              f"oracle {verdicts[op] or 'match'}")
    for o in timed:
        if o["error"]:
            print(f"# error {o['op']}: {o['error'][:300]}")
    if args.trace:
        traced_passes = [p for p in passes if p["traced"]]
        layer = metrics.per_layer(traced, [p for p in passes
                                           if not p["traced"]],
                                  traced_passes, raw["cpus"],
                                  raw["resident_bytes"])
        print(f"# self time over the {len(traced_passes)} traced passes, "
              f"seconds (unattributed jobs: {raw['unattributed_jobs']}):")
        for k, v in metrics.self_time_table(raw["spans"], traced,
                                            traced_passes).items():
            print(f"#   {k:28s} {v:9.3f}")
        print(f"# tracing overhead: {layer['trace.overhead_s']:+.3f} s "
              f"per pass (traced pass_s minus untraced pass_s)")
        values = layer
    else:
        values = e2e
    print(json.dumps({
        "correct": not bad_ops and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit(k)}
                    for k, v in values.items()},
    }))


if __name__ == "__main__":
    main()
