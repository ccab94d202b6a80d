#!/usr/bin/env python3
"""Layered benchmark: one command, two workloads, checked outputs.

Run from the repository root:

    python3 perfbench/run.py --workload filter_batch --seed 1 --seconds 12 --trace 0

Workloads: filter_batch, query_mix (see perfbench/README.md).
Spark runs as local[nproc]. Inputs are made from --seed and cached under
`.perfbench/` in the current directory, which is also TMPDIR, the Spark local
dir and the output location. The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}

--trace 0 reports the end-to-end metrics; --trace 1 reports the per-layer
metrics of a separately traced session (Spark event log, streaming listener,
noop-sink prefix timings, a local[1] scaling run).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

# The first operation after JVM start pays class loading and JIT compilation
# (4 cores: a 20,000-image run_filter call takes ~13-22 s, then ~8-10 s; a
# query pass ~17-22 s, then ~8-10 s) and is discarded.
WARMUP_OPS = 1
# The first measured operation still runs ~20-25% slower than the next one
# (JIT compilation goes on). With a count that fell from two operations to
# one whenever the first took longer than --seconds, the run's median jumped
# by that much, so an untraced run measures at least this many.
MEASURED_MIN_OPS = 2


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["filter_batch", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def pin_environment(root: str) -> None:
    """Everything the program writes goes under .perfbench/ in the checkout:
    the entry_queries scratch caches and seen-corpus bootstrap (TMPDIR), the
    JVM's temp files, Spark shuffle files; python workers import the package
    from the checkout."""
    work = os.path.join(root, ".perfbench")
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the JVM's own temp files and its perf-data file would go to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, root)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run(args, root: str) -> dict:
    from perfbench import harness, tracing
    from perfbench.workloads import WORKLOADS, Context

    cores = len(os.sched_getaffinity(0))
    ctx = Context(root, args.seed, cores)
    wl = WORKLOADS[args.workload](ctx)
    rec: dict[str, float | None] = {}

    spark, first = harness.first_session(cores, wl.prepare)
    rec.update(first)
    log(f"first session {first}")
    calls = failed_calls = 0
    times_t: list[float] = []
    try:
        t0 = time.perf_counter()
        # the expected outputs are computed while the warm-up ops run
        with ThreadPoolExecutor(1) as pool:
            expected = pool.submit(wl.expect)
            warm, warm_failed = loop(wl, spark, 0, count=WARMUP_OPS, first=-WARMUP_OPS)
        rec["setup.warmup_s"] = time.perf_counter() - t0
        if expected.exception() is not None:
            wl.fail(f"computing the expected outputs raised {expected.exception()!r}")
        log(f"warm-up ops {[round(t, 3) for t in warm]}")
        calls += len(warm) + warm_failed
        failed_calls += warm_failed

        spark, setup = harness.timed_setups(spark, cores, wl.check_caches)
        rec.update(setup)
        log(f"set-ups {setup}")

        # the traced run measures one untraced operation, as the baseline of
        # its tracing overhead; its per-layer metrics have no bound
        with harness.RssSampler() as rss, harness.HostNoise() as noise:
            if args.trace:
                times, n_failed = loop(wl, spark, 0)
            else:
                times, n_failed = loop(wl, spark, args.seconds, count=MEASURED_MIN_OPS)
        calls += len(times) + n_failed
        failed_calls += n_failed
        rec["host.other_busy_cores"] = noise.other_busy_cores
        rec["host.steal_cores"] = noise.steal_cores
        log(f"measured ops {[round(t, 3) for t in times]}; other busy cores "
            f"{noise.other_busy_cores:.2f}, stolen {noise.steal_cores:.2f}; peak PSS "
            f"{rss.peak / 2**20:.0f} MB, per process {[p >> 20 for p in rss.peak_procs]}")

        if args.trace:
            # a fresh session in the same JVM, now writing the event log
            spark.stop()
            spark = harness.start_session(cores, ctx.event_log)
            harness.warm_workers(spark, cores)
            wl.windows = tracing.Windows()
            wl.start_tracing()
            times_t, n_failed = loop(wl, spark, 0)
            calls += len(times_t) + n_failed
            failed_calls += n_failed
            wl.stop_tracing(times_t)
            log(f"traced ops {[round(t, 3) for t in times_t]}")
            wl.probes(spark)
        t0 = time.perf_counter()
        wl.check(spark)
        log(f"check {time.perf_counter() - t0:.2f}s, {wl.failed_checks} failed")
        spark.stop()
        spark = None
        if args.trace:
            wl.after_session(harness.median(times))
    finally:
        t0 = time.perf_counter()
        harness.shut_down(spark)
        log(f"shut down {time.perf_counter() - t0:.2f}s")

    failed = wl.failed_ops(failed_calls) + wl.failed_checks + wl.probe_failed
    result = {
        "correct": failed == 0 and bool(times),
        "attempted": calls * wl.ops_per_call() + wl.probe_calls,
        "failed": failed,
    }
    op_p50 = harness.median(times)
    items = wl.items_per_op()
    if not args.trace:
        shutil.rmtree(ctx.runs, ignore_errors=True)
        result["metrics"] = {
            "setup_s": metric(rec["setup_s"], "s"),
            "op_p50_s": metric(op_p50, "s"),
            "throughput_per_s": metric(items / op_p50 if op_p50 else None, "1/s"),
            "peak_rss_mb": metric(rss.peak / 2**20, "MB"),
        }
        return result

    rows = wl.windows.charge(ctx.event_log)
    shutil.rmtree(ctx.runs, ignore_errors=True)
    wl.engine_layers(rows)
    per_op = list(tracing.per_op(rows).values())
    op_med = lambda k: harness.median([o[k] for o in per_op])  # noqa: E731
    p50_t = harness.median(times_t)
    rec.update({
        "host.nproc": float(os.cpu_count() or 0),
        "host.local_n": float(cores),
        "trace.op_p50_s": p50_t,
        "trace.overhead_s": p50_t - op_p50 if p50_t and op_p50 else None,
    })
    for field in tracing.FIELDS:
        rec[ENGINE_NAMES[field]] = op_med(field)
    if rec["python.bytes_in"] is not None:
        rec["python.bytes_per_item"] = (rec["python.bytes_in"] + rec["python.bytes_out"]) / items
    rec.update(wl.layers)
    # The result format needs a number for every per-layer metric.
    # A layer this workload does not run did no work: 0, and said so on
    # stderr. A layer it does run that comes out empty is a broken collector:
    # the run is not correct.
    idle = [n for n in layer_metric_names() if not wl.runs_layer(n)]
    missing = [n for n in layer_metric_names() if wl.runs_layer(n) and rec.get(n) is None]
    if idle:
        log(f"not run by {wl.name}, reported as 0: {' '.join(idle)}")
    if missing:
        log(f"collected nothing for: {' '.join(missing)}")
        result["correct"] = False
    result["metrics"] = {
        name: metric(rec.get(name) or 0.0, unit_of(name)) for name in layer_metric_names()
    }
    return result


ENGINE_NAMES = {
    "jobs": "engine.jobs_per_op", "stages": "engine.stages_per_op",
    "tasks": "engine.tasks_per_op", "executor_run_s": "engine.executor_run_s",
    "gc_s": "engine.gc_s", "shuffle_write_bytes": "engine.shuffle_write_bytes",
    "spill_bytes": "engine.spill_bytes", "python_worker_s": "python.worker_s",
    "python_bytes_in": "python.bytes_in", "python_bytes_out": "python.bytes_out",
}


def layer_metric_names() -> list[str]:
    """Every per-layer metric, in BENCHMARK.json order."""
    from perfbench.workloads import QUERIES

    names = [
        "session.first_start_s", "session.start_s", "session.worker_warm_s",
        "setup.inputs_s", "setup.warmup_s", "setup.scratch_build_s",
        "host.nproc", "host.local_n", "host.other_busy_cores", "host.steal_cores",
        *ENGINE_NAMES.values(), "python.bytes_per_item",
        "trace.op_p50_s", "trace.overhead_s",
        "batch.scan_s", "batch.flags_s", "batch.fused_s", "batch.finalize_s",
        "batch.dup_decisions_s", "batch.dup_decision_rows", "batch.write_commit_s",
        "batch.write_amp", "batch.images_per_s_local1", "batch.scaling_eff_1vN",
        "stream.arrival_p50_s", "stream.trigger_s", "stream.add_batch_s", "stream.query_planning_s",
        "stream.wal_commit_s", "stream.commit_offsets_s", "stream.latest_offset_s",
        "stream.lifecycle_s", "stream.jobs_per_arrival", "stream.files_written_per_arrival",
        "stream.write_amp",
    ]
    for q in QUERIES:
        names += [f"q.{q}.build_s", f"q.{q}.run_s", f"q.{q}.jobs"]
    return names + ["queries.build_s", "queries.run_s", "queries.jobs", "queries.tasks"]


def loop(wl, spark, seconds: float, count: int = 1, first: int = 0):
    """wl's closed loop; op indices start at `first` (warm-up ops are negative)."""
    from perfbench import harness

    return harness.timed_loop(lambda i: wl.op(spark, first + i), seconds,
                              before=lambda i: wl.before(first + i), min_ops=count)


UNITS = {
    "_s": "s", "_bytes": "bytes", "bytes_in": "bytes", "bytes_out": "bytes",
    "bytes_per_item": "bytes", "_per_s": "1/s", "_per_s_local1": "1/s",
    "write_amp": "ratio", "scaling_eff_1vN": "ratio", "_cores": "cores",
}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "data_quality_check_spark")):
        print("perfbench: data_quality_check_spark/ not found; run from the "
              "repository root", file=sys.stderr)
        return 2
    pin_environment(root)
    result = run(args, root)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
