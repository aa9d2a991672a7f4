#!/usr/bin/env python3
"""Layered benchmark for gosmonaut_spark.

    python3 perfbench/run.py --workload {ingest,spatial} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root. Builds its inputs from ``--seed`` (cached per
seed and size under ``.perfbench_work/``), starts one local[nproc] session
through ``build_session``, runs the workload's cold pass, one warm-up pass and
then warm passes for ``--seconds`` (at least one), checks every pass against
the truth tables or numpy brute force, and prints a table followed by one
JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics: ``wall_s`` is the median warm
pass. ``--trace 1`` runs the cold pass, the warm-up pass, a traced warm pass
and an untraced one, and reports the per-layer metrics of the traced pass (see
perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "1/s",
}

# generic event-log metrics, reported for every layer that runs Spark jobs
GENERIC_UNITS = {
    "wall_s": "s", "task_cpu_s": "s", "task_run_s": "s", "gc_s": "s",
    "jobs": "count", "tasks": "count", "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "driver_gap_s": "s",
    "task_skew": "ratio",
}
JOB_LAYERS = (
    "sources", "assembly.ways", "assembly.relations", "pipeline",
    "pip", "tiling", "knn",
)
LAYER_FACTS = {
    "session.first_job_s": "s",
    # the first pass in the fresh process, what one spark-submit pays: not
    # gated, because first-time codegen and JIT make it noisy
    "session.cold_wall_s": "s",
    # peak summed RSS of the process tree during the cold pass: not gated,
    # because the JVM's own heap sizing moves it by ~20% on identical work
    "session.peak_rss_mb": "MB",
    "format.decode_s": "s",
    "format.mb_per_s": "MB/s",
    "sources.cpu_per_page_ms": "ms",
    "sources.rows_out": "count",
    "checkpoint.entities.wall_s": "s",
    "checkpoint.assembled_ways.wall_s": "s",
    "checkpoint.relations.wall_s": "s",
    "checkpoint.entities.bytes_written": "bytes",
    "checkpoint.assembled_ways.bytes_written": "bytes",
    "checkpoint.relations.bytes_written": "bytes",
    "checkpoint.bytes_per_row": "bytes",
    "assembly.relations.build_jobs": "count",
    "pipeline.decode_scans": "count",
    "pip.cover_cells": "count",
    "pip.candidates": "count",
    "pip.hits": "count",
    "pip.hit_ratio": "ratio",
    "tiling.tiles_out": "count",
    "tiling.build_jobs": "count",
    "knn.candidates_per_query": "count",
    "knn.brute_queries": "count",
    "trace.warm_wall_s": "s",
    "trace.overhead_s": "s",
    "trace.coverage": "ratio",
}
# the entities pass is scan -> decode -> write with no shuffle, so its
# shuffle volume is zero by construction and left out
PER_LAYER = {
    **{
        f"{layer}.{m}": u
        for layer in JOB_LAYERS
        for m, u in GENERIC_UNITS.items()
        if not (layer == "sources" and m.startswith("shuffle_"))
    },
    **LAYER_FACTS,
}

def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "spatial"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(run_id: str) -> None:
    """Keep every file the run writes (temp files, shuffle, snapshots,
    event log) under .perfbench_work/ in the checkout."""
    tmp = os.path.join(WORK, "tmp", run_id)
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local", run_id)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    os.environ.pop("SPARK_GRAFT_EVENTLOG", None)


def _hygiene(spark) -> None:
    """Between passes: drop cached blocks and collect the heap, so a pass
    does not inherit the previous pass's state (bench.py's inter-leg
    hygiene)."""
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()


def _stop(spark) -> dict[str, float]:
    """Stop the session, end the JVM and wait until it and its Python
    workers have exited; return how long each step took."""
    from host import descendants

    steps = {}
    t = time.perf_counter()
    kids = descendants(os.getpid())[1:]
    gateway = spark.sparkContext._gateway
    spark.stop()
    steps["session"] = time.perf_counter() - t
    gateway.shutdown()
    # The context is stopped and its event log flushed. A graceful JVM exit
    # can wait up to 10 s for a JIT compile still running, so end it.
    proc = gateway.proc
    proc.kill()
    proc.wait(timeout=60)
    steps["jvm"] = time.perf_counter() - t - steps["session"]
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in kids):
        time.sleep(0.1)
    steps["workers"] = time.perf_counter() - t - steps["session"] - steps["jvm"]
    return steps


def main(argv=None) -> int:
    args = _parse(argv)
    # on SIGTERM unwind through the finally blocks, so the JVM is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "gosmonaut_spark")):
        print(f"gosmonaut_spark not found next to {HERE}: run from a repository checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from host import PeakRss, driver_heap_mb, host_record, process_age_s

    interpreter_s = process_age_s()  # interpreter start, counted into setup_s
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    _environment(run_id)
    import inputs

    phases = {"start": time.perf_counter() - interpreter_s}
    host = host_record()
    phases["host"] = time.perf_counter()
    make_inputs = inputs.ingest_inputs if args.workload == "ingest" else inputs.spatial_inputs
    inputs_dir = make_inputs(os.path.join(WORK, "inputs"), args.seed)

    # --- setup: imports, session, one trivial job -------------------------
    t0 = phases["inputs"] = time.perf_counter()
    from gosmonaut_spark.session import build_session

    import workloads
    from spans import NullTracer, Tracer, layer_metrics, read_event_log, top_level_coverage

    extra = {
        "spark.driver.memory": f"{driver_heap_mb()}m",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse", run_id),
    }
    event_dir = os.path.join(WORK, "eventlog", run_id)
    if args.trace:
        os.makedirs(event_dir, exist_ok=True)
        extra.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_dir,
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    spark = build_session(master=f"local[{os.cpu_count()}]", extra=extra)
    t_job = time.perf_counter()
    spark.range(1000).count()
    first_job_s = time.perf_counter() - t_job
    setup_s = interpreter_s + (time.perf_counter() - t0)
    phases["setup"] = time.perf_counter()

    # peak RSS is sampled only during a traced run's cold pass, so the
    # sampler never runs in a pass whose wall time is reported
    rss = PeakRss() if args.trace else None
    attempted = failed = 0
    failures: list[str] = []
    record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                    "host": host, "inputs": os.path.relpath(inputs_dir, ROOT), "pass_walls": []}

    def one_pass(tracer, watch=None):
        """One verified pass; returns its result, wall time, the peak RSS
        ``watch`` saw (if given) and its epoch-time window."""
        nonlocal attempted, failed
        _hygiene(spark)
        if watch:
            watch.arm()
        t = time.perf_counter()
        start = time.time()
        res = wl.run_pass(tracer)
        wall = time.perf_counter() - t
        end = time.time()
        peak = watch.peak_mb() if watch else None
        wl.check(res)
        attempted += len(res.checks)
        bad = [f"{op}: {detail}" for op, ok, detail in res.checks if not ok]
        failed += len(bad)
        failures.extend(bad)
        record["pass_walls"].append(wall)
        return res, wall, peak, (start, end)

    try:
        snap_parent = os.path.join(WORK, "snapshots", run_id)
        os.makedirs(snap_parent, exist_ok=True)
        if args.workload == "ingest":
            wl = workloads.Ingest(spark, inputs_dir, args.seed, snap_parent)
        else:
            wl = workloads.Spatial(spark, inputs_dir, args.seed)
        phases["oracles"] = time.perf_counter()

        # The cold pass: the first verified pass in this fresh process, what
        # one spark-submit pays. It and one more verified pass are the
        # warm-up of the passes after: the first pass after the cold one
        # still pays for JIT work the cold pass left undone, and how much
        # moves from run to run (from -5% to +18% of the next pass over ten
        # seeds of ingest, -1% to +17% of spatial).
        res, cold, peak, _ = one_pass(NullTracer(), rss)
        wl.cleanup(res)
        res, _, _, _ = one_pass(NullTracer())
        wl.cleanup(res)
        if not args.trace:
            warm = []
            t_window = time.perf_counter()
            while not warm or time.perf_counter() - t_window < args.seconds:
                res, wall, _, _ = one_pass(NullTracer())
                wl.cleanup(res)
                warm.append(wall)
            wall = statistics.median(warm)
            metrics = {"setup_s": setup_s, "wall_s": wall, "rows_per_s": res.rows / wall}
            units = END_TO_END
        else:
            # traced, then untraced: the JIT may still be warming up, so
            # running the untraced pass last biases the overhead upward
            tracer = Tracer(spark.sparkContext)
            res, traced, _, (start, end) = one_pass(tracer)
            facts = wl.probe(res, tracer)
            wl.cleanup(res)
            res, warm, _, _ = one_pass(NullTracer())
            wl.cleanup(res)
            record["spans"] = tracer.spans
    finally:
        phases["passes"] = time.perf_counter()
        if rss:
            rss.close()
        record["stop_s"] = _stop(spark)
        phases["stop"] = time.perf_counter()
        for d in ("snapshots", "spark-local", "tmp", "warehouse"):
            shutil.rmtree(os.path.join(WORK, d, run_id), ignore_errors=True)

    if args.trace:
        log = read_event_log(event_dir)
        metrics = dict.fromkeys(PER_LAYER, 0.0)
        metrics.update(layer_metrics(tracer.spans, log, list(JOB_LAYERS)))
        metrics.update({k: v for k, v in facts.items() if k in PER_LAYER})
        metrics.update(wl.log_counts(log, {**metrics, **facts}))
        metrics["session.first_job_s"] = first_job_s
        metrics["session.cold_wall_s"] = cold
        metrics["session.peak_rss_mb"] = peak
        metrics["trace.warm_wall_s"] = warm
        metrics["trace.overhead_s"] = traced - warm
        metrics["trace.coverage"] = top_level_coverage(tracer.spans, start, end)
        units = PER_LAYER
        shutil.rmtree(event_dir, ignore_errors=True)

    t_prev = phases.pop("start")
    for k, t in phases.items():
        phases[k], t_prev = t - t_prev, t
    record.update({"phases_s": phases, "metrics": metrics, "setup_s": setup_s,
                   "attempted": attempted, "failed": failed, "failures": failures})
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    with open(os.path.join(WORK, "runs", f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    print(f"# {args.workload} seed={args.seed} trace={args.trace} nproc={host['nproc']} "
          f"steal={host['ambient_steal_pct']:.1f}% cpu={host['cpu_speed_mb_s']:.0f}MB/s")
    for name, unit in units.items():
        print(f"{name:44s} {metrics[name]:14.6g} {unit}")
    print(f"{'failed_frac':44s} {failed / max(attempted, 1):14.6g} ratio "
          f"({failed} of {attempted} checked operations)")
    for line in failures[:20]:
        print(f"FAILED {line}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
