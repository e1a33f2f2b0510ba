"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload join_tile_batch --seed 1 --seconds 12 --trace 0

``--trace 0`` prints the end-to-end metrics: set-up runs once untimed and
then three times timed (the median is reported), operations run warm
(after one untimed run each, whose outputs are checked) for ``--seconds``,
and times are medians.

``--trace 1`` prints the per-layer metrics: half the time runs untraced,
then the SparkContext restarts with the event log on and the other half
runs (after one more untimed warm-up) with every layer call under its
own job group; stage metrics from the log are attributed to those spans.
``trace.overhead_ratio`` is untraced over traced throughput.

The session is single-process ``local[nproc]``; all files go to a work
directory under the checkout that is removed at exit. The last stdout
line is ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

END_TO_END = {"setup_s": "s", "throughput_per_s": "1/s", "secondary_per_s": "1/s"}
LAYERS = {
    "process.peak_rss_mb": "MB",
    "sources.scan_extract_s": "s",
    "spatial_join.self_s": "s",
    "spatial_join.cover_build_s": "s",
    "spatial_join.cover_rows": "count",
    "spatial_join.candidates": "count",
    "spatial_join.matches": "count",
    "spatial_join.match_ratio": "ratio",
    "tiling.assign_agg_self_s": "s",
    "join.reconcile_ratio": "ratio",
    "tiling.rasterize_s": "s",
    "tiling.pyramid_up_s": "s",
    "tiling.tiles_written": "count",
    "tiling.bytes_written": "B",
    "knn.bulk_s": "s",
    "knn.spark_jobs": "count",
    "maml.focal_s": "s",
    "maml.local_s": "s",
    "engine.plan_ms_p50": "ms",
    "engine.action_ms_p50": "ms",
    "engine.jobs_per_miss": "count",
    "engine.stages_per_miss": "count",
    "engine.tile_ms_p50": "ms",
    "engine.focal_tile_ms_p50": "ms",
    "engine.extent_ms_p50": "ms",
    "engine.set_layer_ms_p50": "ms",
    "engine.requests": "count",
    "engine.req_latency_p50_ms": "ms",
    "engine.req_latency_p90_ms": "ms",
    "engine.req_tail_pct": "%",
    "cache.hits": "count",
    "cache.misses": "count",
    "cache.hit_ratio": "ratio",
    "cache.hit_us_p50": "us",
    "styles.encode_png_ms": "ms",
    "trace.overhead_ratio": "ratio",
}
# spans whose event-log stage metrics are reported, per traced call
SPANS = ("flagship", "knn_bulk", "rasterize", "write_pyramid", "maml_focal",
         "maml_local", "serve_tile", "serve_focal", "serve_extent")
SPAN_UNITS = {
    "tasks": "count", "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s",
    "shuffle_write_bytes": "B", "shuffle_records": "count", "spill_bytes": "B",
    "python_bytes_sent": "B", "python_bytes_returned": "B", "python_time_s": "s",
}
SETUP_REPS = 3


def per_layer_units() -> dict[str, str]:
    units = dict(LAYERS)
    for span in SPANS:
        for key, unit in SPAN_UNITS.items():
            units[f"{span}.{key}"] = unit
    return units


def workloads():
    from perfbench.workloads.join_tile_batch import JoinTileBatch
    from perfbench.workloads.tile_serving import TileServing

    return {"join_tile_batch": JoinTileBatch, "tile_serving": TileServing}


def log(msg: str, t0: float) -> None:
    print(f"perfbench: {msg} at {time.perf_counter() - t0:.1f} s", file=sys.stderr, flush=True)


def measure(wl, tracer, seconds: float, min_rounds: int = 1) -> dict:
    """Run whole rounds, at least ``min_rounds``, until ``seconds`` have passed."""
    wl.begin()
    t0, rounds = time.perf_counter(), 0
    while rounds < min_rounds or time.perf_counter() - t0 < seconds:
        wl.round(tracer)
        rounds += 1
    log(f"{rounds} rounds measured", t0)
    return tracer.times


def run_untraced(wl, spark, seconds) -> dict:
    from perfbench import harness, stats

    wl.setup()  # once untimed: JIT warm-up is not set-up cost
    setup = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.setup()
        setup.append(time.perf_counter() - t0)
    wl.warmup()
    out = wl.end_to_end(measure(wl, harness.Tracer(spark, traced=False), seconds))
    out["setup_s"] = stats.median(setup)
    return out


def run_traced(wl, spark, work, cores, seconds) -> dict:
    from perfbench import eventlog, harness

    wl.setup()
    wl.warmup()
    untraced = measure(wl, harness.Tracer(spark, traced=False), seconds / 2, wl.traced_rounds)
    base = wl.end_to_end(untraced)
    # the event log is fixed when a SparkContext starts: restart with it on
    spark.stop()
    spark = harness.start_session(work, cores, event_log=True)
    wl.spark = spark
    tracer = harness.Tracer(spark, traced=True)
    tracer.timed("setup", wl.setup)
    wl.warmup()
    traced = measure(wl, tracer, seconds / 2, wl.traced_rounds)
    wl.traced_extras(tracer)
    out = dict.fromkeys(per_layer_units(), 0.0)
    out["trace.overhead_ratio"] = (base["throughput_per_s"]
                                   / wl.end_to_end(traced)["throughput_per_s"])
    out.update(wl.per_layer(traced, untraced))
    log_path = harness.event_log_path(spark, work)
    spark.stop()  # flushes the event log
    events = eventlog.parse_file(log_path)
    out.update(wl.event_metrics(events))
    for span in SPANS:
        if span in events["spans"]:
            for key, v in eventlog.per_call(events["spans"][span]).items():
                out[f"{span}.{key}"] = v
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    try:
        import geotrellis_server_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"perfbench: the package is not importable here: {e}", file=sys.stderr)
        return 2
    from perfbench import harness
    from perfbench.workloads.common import Checks

    table = workloads()
    if args.workload not in table:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(table)}",
              file=sys.stderr)
        return 2
    if args.seed < 0:
        print("perfbench: --seed must be >= 0", file=sys.stderr)
        return 2

    work = harness.new_work_dir(args.workload)
    try:
        harness.isolate_env(work)
        cores = harness.nproc()
        checks = Checks()
        t0 = time.perf_counter()
        with harness.RssSampler() as rss:
            spark = harness.start_session(work, cores, event_log=False)
            log("session started", t0)
            wl = table[args.workload](spark, work, cores, args.seed, checks)
            wl.prepare()
            log("inputs prepared", t0)
            if args.trace:
                values = run_traced(wl, spark, work, cores, args.seconds)
                units = per_layer_units()
            else:
                values = run_untraced(wl, spark, args.seconds)
                units = END_TO_END
        if args.trace:
            values["process.peak_rss_mb"] = rss.peak_mb
    finally:
        harness.shutdown_jvm()
        log("stopped", t0)
        harness.remove_work_dir(work)
    metrics = {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}
    result = {"correct": checks.failed == 0, "attempted": checks.attempted,
              "failed": checks.failed, "metrics": metrics}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
