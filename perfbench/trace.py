"""Tracing for the traced run: spans recorded from the benchmark's own
files around each call into a layer, Spark status-store counters diffed
around each operation, SQL plan-node metrics, and direct timings of the
kernels that run inside the Python workers.  Spans stay in memory until the run ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

import numpy as np

from georasters_spark.functions import geometry as geom
from georasters_spark.sources import codec

from . import env, fixtures


class Tracer:
    """Spans (name, op, start, end, parent index).  ``active`` is
    switched per operation; an inactive tracer records nothing."""

    def __init__(self):
        self.spans: list[dict] = []
        self.active = False
        self.op: str | int = ""
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        rec = {"name": name, "op": self.op, "start": time.perf_counter(),
               "end": None, "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def mean_s(self, name: str) -> float:
        """Mean duration of ``name`` spans in measured operations (not
        set-up); 0 when the workload makes no such call."""
        ds = [s["end"] - s["start"] for s in self.spans
              if s["name"] == name and isinstance(s["op"], int)]
        return sum(ds) / len(ds) if ds else 0.0


class StatusStore:
    """Per-operation counters from Spark's status store (works with the
    UI off), and the bytes the JVM read.  ``mark`` before an operation,
    ``delta`` after it.

    ``input_bytes`` is the JVM's ``rchar``, not the stages' inputBytes:
    Parquet's vectored reads run on I/O threads, and Spark counts only
    the task thread's Hadoop read statistics, so inputBytes shows the
    footers (~2% of a zonal_scan's catalog bytes).  ``rchar`` counts
    every thread's reads: the Parquet scan, shuffle files and the
    results Python workers send back over their sockets."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        self._stage_hi = self._job_hi = -1
        self._jvm = env.jvm_pid()
        self._read0 = 0

    def _stages(self):
        self._sc.listenerBus().waitUntilEmpty()
        seq = self._sc.statusStore().stageList(None, False, False, self._no_quantiles, None)
        return [seq.apply(i) for i in range(seq.size())]

    def _job_ids(self) -> list[int]:
        seq = self._sc.statusStore().jobsList(None)
        return [seq.apply(i).jobId() for i in range(seq.size())]

    def mark(self) -> None:
        self._stage_hi = max((s.stageId() for s in self._stages()), default=-1)
        self._job_hi = max(self._job_ids(), default=-1)
        self._read0 = env.read_bytes(self._jvm)

    def delta(self) -> dict:
        read = env.read_bytes(self._jvm) - self._read0
        new = [s for s in self._stages() if s.stageId() > self._stage_hi]
        ran = [s for s in new if str(s.status()) in ("COMPLETE", "FAILED")]
        return {
            "jobs": sum(1 for j in self._job_ids() if j > self._job_hi),
            "stages": len(ran),
            "run_s": sum(s.executorRunTime() for s in ran) / 1e3,
            "cpu_s": sum(s.executorCpuTime() for s in ran) / 1e9,
            "input_bytes": read,
            "shuffle_read_bytes": sum(s.shuffleReadBytes() for s in ran),
            "shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in ran),
            "spill_bytes": sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in ran),
            "failed_tasks": sum(s.numFailedTasks() for s in ran),
        }


class SQLStore:
    """Per-node SQL metrics of the query executions that ran since
    ``mark``, from the SQL status store (works with the UI off)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._hi = -1

    def _ids(self) -> list[int]:
        seq = self._store.executionsList()
        return [seq.apply(i).executionId() for i in range(seq.size())]

    def mark(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()
        self._hi = max(self._ids(), default=-1)

    def output_rows(self, node: str) -> int:
        """Rows output by every plan node named ``node`` since ``mark``."""
        self._sc.listenerBus().waitUntilEmpty()
        total = 0
        for eid in self._ids():
            if eid <= self._hi:
                continue
            values, it = {}, self._store.executionMetrics(eid).iterator()
            while it.hasNext():
                kv = it.next()
                values[kv._1()] = kv._2()
            nodes = self._store.planGraph(eid).allNodes()
            for n in (nodes.apply(i) for i in range(nodes.size())):
                if n.name() != node:
                    continue
                ms = n.metrics()
                for m in (ms.apply(j) for j in range(ms.size())):
                    if m.name() == "number of output rows" and m.accumulatorId() in values:
                        total += int(values[m.accumulatorId()].replace(",", ""))
        return total


# ---------------------------------------------------------------------------
# kernels timed by direct calls on the workload's own tiles
# ---------------------------------------------------------------------------

def _rate(fn, items, min_s: float = 0.2) -> float:
    """Items per second over whole passes of fn(item), for >= min_s."""
    n, t0 = 0, time.perf_counter()
    while True:
        for it in items:
            fn(it)
        n += len(items)
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return n / dt


def kernel_metrics(spec, sample: int = 300) -> dict:
    """name -> (value, unit): codec and geometry rates on up to
    ``sample`` evenly spaced tiles of ``spec``, fed exactly as the
    engine's kernels feed them."""
    stack = fixtures.tile_stack(spec)
    t, ndv = spec.tile, spec.ndv
    flat = [(ty, tx) for ty in range(spec.tiles_y) for tx in range(spec.tiles_x)]
    picked = [flat[i] for i in np.linspace(0, len(flat) - 1, min(sample, len(flat))).astype(int)]
    arrays = [np.ascontiguousarray(stack[ty, tx]) for ty, tx in picked]
    blobs = [codec.encode_tile(a, "raw16", ndv) for a in arrays]
    out = {
        "codec.decode_tiles_per_s": (
            _rate(lambda b: codec.decode_tile(b, "raw16", t, t, ndv), blobs), "tiles/s"),
        "codec.encode_tiles_per_s": (
            _rate(lambda a: codec.encode_tile(a, "raw16", ndv), arrays), "tiles/s"),
    }

    # geometry: candidate cells per (tile, zone) as spatial_join's fused
    # all_touched kernel selects them, then cells_touched on those
    cx, cy = spec.cellx, spec.celly
    tested = hits = 0
    busy = 0.0
    for (ty, tx), arr in zip(picked, arrays):
        valid = arr != int(ndv)
        gc = np.broadcast_to(tx * t + np.arange(t, dtype=np.int64)[None, :], (t, t))
        gr = np.broadcast_to(ty * t + np.arange(t, dtype=np.int64)[:, None], (t, t))
        xc = spec.x0 + (gc[valid] + 0.5) * cx
        yc = spec.y0 + (gr[valid] + 0.5) * cy
        for z in fixtures.ZONES:
            bx0, by0, bx1, by1 = geom.rings_bbox(z.rings)
            cand = ((xc >= bx0 - abs(cx)) & (xc <= bx1 + abs(cx))
                    & (yc >= by0 - abs(cy)) & (yc <= by1 + abs(cy)))
            if not cand.any():
                continue
            rings = [np.asarray(r, dtype=np.float64) for r in z.rings]
            t0 = time.perf_counter()
            hit = geom.cells_touched(xc[cand], yc[cand], cx, cy, rings)
            busy += time.perf_counter() - t0
            tested += int(cand.sum())
            hits += int(hit.sum())
    out["geometry.pip_cells_per_s"] = (tested / busy if busy else 0.0, "cells/s")
    out["geometry.hit_ratio"] = (hits / tested if tested else 0.0, "ratio")
    return out

