"""One benchmark run of one workload: set-up, the timed closed loop, the
output checks and the metrics, in one driver process."""

from __future__ import annotations

import json
import os
import statistics
import time
import traceback

from . import env, trace, workloads

BUILDS = {"full": 3, "tiny": 1}  # catalog builds per run; setup_s takes their median
TAIL_BEYOND = 10
# layer calls timed by spans; each gives the per_layer metric <name>_s
SPANS = ("catalog.scan_bbox", "spatial_join.zonal_stats_fused",
         "pixels.lookup_points_fused", "knn.knn_tiles", "pixels.assemble_tiles")


def tail(lat: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond) of the highest nearest-rank
    percentile with TAIL_BEYOND samples beyond it, or, in a run of fewer
    than 4 * TAIL_BEYOND operations, a quarter of them (rounded down),
    so a short run's tail is not its single worst operation."""
    xs = sorted(lat)
    n = len(xs)
    beyond = min(TAIL_BEYOND, n // 4)
    return xs[n - 1 - beyond], 100.0 * (n - beyond) / n, beyond


def run(name: str, seed: int, seconds: float, traced: bool, work: str,
        scale: str = "full", corrupt: bool = False, keep_jvm: bool = False) -> dict:
    """Returns {"correct", "attempted", "failed", "metrics", "details"}.
    ``work`` is a fresh directory for the run's files.  ``corrupt``
    damages the first operation's result before it is checked
    (self-test only).  ``keep_jvm`` leaves the JVM running for the next
    run in this process."""
    perf = time.perf_counter
    wl = workloads.WORKLOADS[name](seed, scale, os.path.join(work, name))
    wl.prepare()
    tr = trace.Tracer()
    lat: list[float] = []
    op_lat: dict[bool, list[float]] = {False: [], True: []}
    counters: list[dict] = []
    failed = 0
    spark = None
    try:
        t0 = perf()
        spark = env.start_spark()
        start_s = perf() - t0
        t0 = perf()
        wl.stage(spark)
        stage_s = perf() - t0
        builds = []
        for rep in range(BUILDS[scale]):
            tr.active, tr.op = traced, f"setup{rep}"
            t0 = perf()
            wl.build(spark, rep, tr)
            builds.append(perf() - t0)
        tr.active = False  # the warm-up feeds no metric
        t0 = perf()
        wl.warm(spark, tr)
        warm_s = perf() - t0
        n_setup_writes = len(wl.writes)
        store = trace.StatusStore(spark) if traced else None
        with env.PeakMemory(spark) as mem:
            deadline = perf() + seconds
            min_ops = 2 if traced else 1  # a traced run times both kinds of op
            i = 0
            while i < min_ops or perf() < deadline:
                on = traced and i % 2 == 1  # traced run: every other op traced
                tr.active, tr.op = on, i
                t0 = perf()
                if on:
                    store.mark()
                try:
                    result = wl.op(spark, i, tr)
                    ok = True
                except Exception:
                    traceback.print_exc()
                    ok = False
                if on:
                    counters.append(store.delta())
                dt = perf() - t0
                lat.append(dt)
                op_lat[on].append(dt)
                if ok:
                    try:
                        ok = wl.check(i, wl.corrupt(result) if corrupt and i == 0 else result)
                    except Exception:
                        traceback.print_exc()
                        ok = False
                    wl.after(i, result)
                failed += not ok
                i += 1
    finally:
        if spark is not None:
            spark.stop()
        if not keep_jvm:
            env.stop_jvm()

    tail_v, tail_p, tail_beyond = tail(lat)
    # the operations' own writes, else (read workloads) the set-up's catalog
    writes = wl.writes[n_setup_writes:] or wl.writes
    write_s = statistics.median(w[0] for w in writes)
    write_bytes = statistics.median(w[1] for w in writes)
    details = {
        "workload": name, "seed": seed, "ops": len(lat), "lat_s": lat,
        "fail_ratio": failed / len(lat),
        "lat_tail_percentile": tail_p,
        "lat_tail_beyond": tail_beyond,
        "session_start_s": start_s, "stage_s": stage_s, "builds_s": builds,
        "warm_s": warm_s,
    }
    if not traced:
        metrics = {
            "setup_s": (start_s + statistics.median(builds) + warm_s, "s"),
            "peak_rss_mb": (mem.peak_mb, "MB"),
            "px_per_s": (wl.pixels_per_op * len(lat) / sum(lat), "px/s"),
            "lat_p50_s": (statistics.median(lat), "s"),
            "lat_tail_s": (tail_v, "s"),
            "write_amp": (write_bytes / wl.raw_bytes, "ratio"),
        }
    else:
        metrics = _layer_metrics(wl, tr, counters, op_lat, start_s)
        metrics["catalog.write_clustered_s"] = (write_s, "s")
        metrics["catalog.bytes_written"] = (write_bytes, "B")
        _write_trace(name, seed, tr, counters, metrics)
    return {
        "correct": failed == 0,
        "attempted": len(lat),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "details": details,
    }


def _layer_metrics(wl, tr, counters, op_lat, start_s) -> dict:
    """Per-layer metrics of a traced run (which has >= 1 traced op)."""
    n = len(counters)
    tot = {k: sum(c[k] for c in counters) for k in counters[0]}
    m = {
        "session.start_s": (start_s, "s"),
        "session.jobs_per_op": (tot["jobs"] / n, "count"),
        "session.stages_per_op": (tot["stages"] / n, "count"),
        "session.task_run_s": (tot["run_s"] / n, "s"),
        "session.task_cpu_ratio": (tot["cpu_s"] / tot["run_s"] if tot["run_s"] else 0.0, "ratio"),
        "session.core_busy_ratio": (tot["run_s"] / (sum(op_lat[True]) * env.cores()), "ratio"),
        "session.shuffle_write_bytes": (tot["shuffle_write_bytes"] / n, "B"),
        "session.shuffle_read_bytes": (tot["shuffle_read_bytes"] / n, "B"),
        "session.spill_bytes": (tot["spill_bytes"] / n, "B"),
        "session.input_bytes": (tot["input_bytes"] / n, "B"),
        "session.failed_tasks": (tot["failed_tasks"], "count"),
        "catalog.files_read_ratio": (wl.files_read_ratio(), "ratio"),
        "cells.ring_cells_per_point": (wl.ring_cells_per_point(), "cells"),
    }
    for name in SPANS:
        m[name + "_s"] = (tr.mean_s(name), "s")
    m.update(trace.kernel_metrics(wl.spec))
    m["trace.overhead_ratio"] = (
        statistics.median(op_lat[True]) / statistics.median(op_lat[False]) - 1.0, "ratio")
    return m


def _write_trace(name, seed, tr, counters, metrics) -> None:
    out = os.path.join(env.ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"trace-{name}-seed{seed}.json"), "w") as f:
        json.dump({"spans": tr.spans, "op_counters": counters,
                   "metrics": {k: v for k, (v, _) in metrics.items()}}, f, indent=1)
