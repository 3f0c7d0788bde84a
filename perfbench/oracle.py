"""Independent oracles, computed before the timed window, and the checks
that compare each operation's output against them.

None of these call the engine's kernels.  The zonal oracle selects
all-touched cells by a different construction from
``functions.geometry.cells_touched``: a cell touches a polygon exactly
when its center is inside (even-odd rule) or a polygon edge meets the
closed cell rectangle (separating-axis test per edge).
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow.parquet as pq

from georasters_spark.sources import synth

from . import fixtures

TOL = 2e-6  # engine rounds means, std devs and kNN distances to 6 dp


# ---------------------------------------------------------------------------
# zonal statistics (zonal_scan)
# ---------------------------------------------------------------------------

def _even_odd(px: np.ndarray, py: np.ndarray, rings) -> np.ndarray:
    inside = np.zeros(np.broadcast(px, py).shape, dtype=bool)
    for ring in rings:
        v = np.asarray(ring, dtype=np.float64)
        for (x1, y1), (x2, y2) in zip(v, np.roll(v, -1, axis=0)):
            if y1 != y2:
                crosses = (y1 > py) != (y2 > py)
                inside ^= crosses & (px < x1 + (py - y1) * (x2 - x1) / (y2 - y1))
    return inside


def _edge_hits(xc, yc, hx, hy, a, b) -> np.ndarray:
    """Cells (centers xc, yc; half sizes hx, hy) whose closed rectangle
    meets segment a-b: the boxes overlap and the rectangle's corners do
    not all lie strictly on one side of the segment's line."""
    (ax, ay), (bx, by) = a, b
    hit = ((min(ax, bx) <= xc + hx) & (max(ax, bx) >= xc - hx)
           & (min(ay, by) <= yc + hy) & (max(ay, by) >= yc - hy))
    sides = [(bx - ax) * (y - ay) - (by - ay) * (x - ax)
             for x in (xc - hx, xc + hx) for y in (yc - hy, yc + hy)]
    pos = np.logical_and.reduce([s > 0 for s in sides])
    neg = np.logical_and.reduce([s < 0 for s in sides])
    return hit & ~pos & ~neg


def zonal_expected(spec: synth.GridSpec, zones) -> dict[int, tuple]:
    """zone_id -> (count, sum, min, max, mean, std) over the valid pixels
    of ``spec`` that each zone touches (all_touched semantics)."""
    arr = synth.stitched_array(spec)
    valid = arr != int(spec.ndv)
    cx, cy = spec.cellx, spec.celly
    hx, hy = abs(cx) / 2.0, abs(cy) / 2.0
    out = {}
    for z in zones:
        v = np.concatenate([np.asarray(r, dtype=np.float64) for r in z.rings])
        c0 = max(0, math.floor((v[:, 0].min() - spec.x0) / cx) - 1)
        c1 = min(spec.width, math.ceil((v[:, 0].max() - spec.x0) / cx) + 1)
        r0 = max(0, math.floor((v[:, 1].max() - spec.y0) / cy) - 1)
        r1 = min(spec.height, math.ceil((v[:, 1].min() - spec.y0) / cy) + 1)
        # the same center formula as the engine's fused kernel
        xc = spec.x0 + (np.arange(c0, c1, dtype=np.int64)[None, :] + 0.5) * cx
        yc = spec.y0 + (np.arange(r0, r1, dtype=np.int64)[:, None] + 0.5) * cy
        touched = _even_odd(xc, yc, z.rings)
        for ring in z.rings:
            for a, b in zip(ring, ring[1:] + ring[:1]):
                touched |= _edge_hits(xc, yc, hx, hy, a, b)
        vals = arr[r0:r1, c0:c1][touched & valid[r0:r1, c0:c1]].astype(np.int64)
        n, s = int(vals.size), int(vals.sum())
        mean = s / n
        std = math.sqrt(max(float((vals * vals).sum()) / n - mean * mean, 0.0))
        out[z.zone_id] = (n, s, int(vals.min()), int(vals.max()), mean, std)
    return out


def check_zonal(rows, expected: dict[int, tuple]) -> bool:
    got = {int(r["zone_id"]): r for r in rows}
    if set(got) != set(expected) or len(rows) != len(expected):
        return False
    for zid, (n, s, mn, mx, mean, std) in expected.items():
        r = got[zid]
        if (r["zcount"], r["zsum"], r["zmin"], r["zmax"]) != (n, s, mn, mx):
            return False
        if abs(r["zmean"] - mean) > TOL or abs(r["zstd"] - std) > TOL:
            return False
    return True


# ---------------------------------------------------------------------------
# point lookups and kNN (point_queries)
# ---------------------------------------------------------------------------

def lookup_expected(spec: synth.GridSpec, rows, cols) -> list[float | None]:
    """Pixel value at each (row, col) from the synth formulas; None where
    the pixel is masked."""
    vals = synth.field_value(rows, cols, spec.seed)
    masked = synth.field_masked(rows, cols, spec.seed)
    return [None if m else float(v) for v, m in zip(vals.tolist(), masked.tolist())]


def check_lookup(rows, expected: list[float | None]) -> bool:
    got = {int(r["point_id"]): r["value"] for r in rows}
    if len(rows) != len(expected) or set(got) != set(range(len(expected))):
        return False
    for pid, want in enumerate(expected):
        v = got[pid]
        if want is None:
            if v is not None and not math.isnan(v):
                return False
        elif v != want:
            return False
    return True


class TileCenters:
    """Brute-force kNN over every tile center of a grid."""

    def __init__(self, spec: synth.GridSpec):
        self.spec = spec
        self.cx, self.cy = fixtures.tile_centers(spec)

    def d2(self, x: float, y: float) -> np.ndarray:
        return (self.cx - x) ** 2 + (self.cy - y) ** 2

    def check(self, rows, xs, ys, k: int) -> bool:
        """rows: (point_id, image_id, dist2, knn_rank) for points 0..n-1.
        Each point gets k distinct tiles ranked by distance whose exact
        distances are the k smallest (ties may pick either tile)."""
        by_pid: dict[int, list] = {}
        for r in rows:
            by_pid.setdefault(int(r["point_id"]), []).append(r)
        if set(by_pid) != set(range(len(xs))):
            return False
        prefix = f"{self.spec.grid_id}_"
        for pid, got in by_pid.items():
            got.sort(key=lambda r: r["knn_rank"])
            if [r["knn_rank"] for r in got] != list(range(1, k + 1)):
                return False
            d2 = self.d2(xs[pid], ys[pid])
            exact = []
            for r in got:
                iid = r["image_id"]
                if not iid.startswith(prefix):
                    return False
                ty, tx = (int(p) for p in iid[len(prefix):].split("_"))
                exact.append(float(d2[ty, tx]))
                if abs(r["dist2"] - exact[-1]) > TOL:
                    return False
            if len({r["image_id"] for r in got}) != k:
                return False
            best = np.sort(d2, axis=None)[:k]
            if np.max(np.abs(np.sort(exact) - best)) > TOL:
                return False
        return True


# ---------------------------------------------------------------------------
# ingest commits (ingest_commit)
# ---------------------------------------------------------------------------

def bytes_under(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(root) for f in files)


class IngestOracle:
    """What a commit of ``spec``'s pixel table must contain: one raw16
    tile per tile block holding a valid pixel, its caption checksum, its
    cell id, and pixels equal to the source grid's."""

    def __init__(self, spec: synth.GridSpec):
        self.spec = spec
        self.stack = fixtures.tile_stack(spec)
        valid = self.stack != int(spec.ndv)
        self.present = valid.any(axis=(2, 3))
        self.sums = np.where(valid, self.stack, 0).astype(np.int64).sum(axis=(2, 3))
        self.cells = fixtures.tile_cells(spec)

    def check(self, root: str) -> bool:
        import json

        with open(os.path.join(root, "_file_manifest.json")) as f:
            manifest = json.load(f)
        files = sorted(os.path.relpath(os.path.join(d, n), root)
                       for d, _, names in os.walk(root)
                       for n in names if n.endswith(".parquet"))
        if sorted(manifest) != files:
            return False
        cols = ["image_id", "bytes", "fmt", "caption", "tile_row", "tile_col", "cell_id"]
        seen = set()
        t, gid = self.spec.tile, self.spec.grid_id
        for rel in files:
            for r in pq.read_table(os.path.join(root, rel), columns=cols).to_pylist():
                ty, tx = r["tile_row"], r["tile_col"]
                if (ty, tx) in seen or not self.present[ty, tx]:
                    return False
                seen.add((ty, tx))
                if (r["image_id"] != f"{gid}_{ty:04d}_{tx:04d}"
                        or r["fmt"] != "raw16"
                        or r["caption"] != f"{gid} tile r{ty} c{tx} sum={self.sums[ty, tx]}"
                        or r["cell_id"] != int(self.cells[ty, tx])):
                    return False
                px = np.frombuffer(r["bytes"], dtype="<i2").reshape(t, t)
                if not np.array_equal(px, self.stack[ty, tx]):
                    return False
        return len(seen) == int(self.present.sum())
