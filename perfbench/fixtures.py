"""Seeded inputs, all from the ``sources.synth`` formulas: the grids,
the ingest pixel table and the point-query request sequence.  The same
seed gives the same inputs.  (The tile fixture the catalog is built
from is staged by ``synth.build_images``; see ``workloads``.)

The pixel table is written with pyarrow in the driver: generating it is
input preparation, not engine work, so it stays out of every timing.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, replace

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from georasters_spark.functions import cells
from georasters_spark.sources import synth

CELL_RES = 6  # the catalog's cell index resolution (synth.BENCH's)
# write_clustered layout shared by the catalog and every ingest commit
LAYOUT = {
    "full": {"prefix_res": 2, "range_files": 32},
    "tiny": {"prefix_res": 1, "range_files": 8},
}
# (catalog grid, ingest grid) per scale; "tiny" is the self-test size
SIZES = {"full": (synth.BENCH, synth.T2), "tiny": (synth.T1, synth.T1)}
ZONES = synth.ZONES_T1 + synth.ZONES_EXTRA
N_LOOKUP = {"full": 200, "tiny": 20}
N_KNN = {"full": 3, "tiny": 2}
KNN_K = 5


def grids(seed: int, scale: str) -> tuple[synth.GridSpec, synth.GridSpec]:
    cat, ing = SIZES[scale]
    return (replace(cat, grid_id="cat", seed=seed, cell_res=CELL_RES),
            replace(ing, grid_id="ing", seed=seed + 1, cell_res=CELL_RES))


def tile_stack(spec: synth.GridSpec) -> np.ndarray:
    """(tiles_y, tiles_x, tile, tile): the grid padded with ndv to whole
    tiles, as the tiles hold it."""
    t = spec.tile
    out = np.full((spec.tiles_y * t, spec.tiles_x * t), int(spec.ndv), np.int16)
    out[:spec.height, :spec.width] = synth.stitched_array(spec)
    return out.reshape(spec.tiles_y, t, spec.tiles_x, t).swapaxes(1, 2)


def tile_centers(spec: synth.GridSpec) -> tuple[np.ndarray, np.ndarray]:
    """(tiles_y, tiles_x) tile-center grids, as knn.knn_tiles computes them."""
    t = spec.tile
    xmin = spec.x0 + np.arange(spec.tiles_x) * t * spec.cellx
    ymax = spec.y0 + np.arange(spec.tiles_y) * t * spec.celly
    cx = xmin + (t * spec.cellx) / 2
    cy = ymax + (t * spec.celly) / 2
    return np.meshgrid(cx, cy)


def tile_cells(spec: synth.GridSpec) -> np.ndarray:
    cx, cy = tile_centers(spec)
    return cells.cell_of(cx, cy, spec.cell_res)


def write_pixels(spec: synth.GridSpec, path: str, parts: int) -> int:
    """The valid pixels of the grid as (row, col, value) — the schema of
    pixels.pixel_table — in ``parts`` files. Returns the row count."""
    arr = synth.stitched_array(spec)
    r, c = np.nonzero(arr != int(spec.ndv))
    table = pa.table({"row": r.astype(np.int64), "col": c.astype(np.int64),
                      "value": arr[r, c].astype(np.float64)})
    os.makedirs(path)
    step = math.ceil(table.num_rows / parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:03d}.parquet"))
    return len(r)


# ---------------------------------------------------------------------------
# point-query requests
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Request:
    bbox: tuple[float, float, float, float]
    rows: np.ndarray  # lookup points' pixel rows ...
    cols: np.ndarray  # ... and cols; the points lie in those pixels
    xs: np.ndarray
    ys: np.ndarray
    knn_xs: np.ndarray  # kNN query points, anywhere in the bbox
    knn_ys: np.ndarray


def requests(spec: synth.GridSpec, seed: int, scale: str, stream: int = 0):
    """Endless seeded request sequence.  Each bbox is the exact extent of
    a random 2x2 to 3x3 block of interior tiles, so every tile whose
    pixels it covers has its center inside it (scan_bbox keeps such
    tiles by contract).  Lookup point (row + v, col + u), u, v in
    [0, 0.3), lies in the bbox and rounds to (row, col), the pixel
    pixels.lookup_points_fused maps it to, without a tie."""
    rng = np.random.default_rng([seed, stream])
    t = spec.tile
    while True:
        a, b = (int(v) for v in rng.integers(2, 4, size=2))
        tx0 = int(rng.integers(0, spec.tiles_x - a))
        ty0 = int(rng.integers(0, spec.tiles_y - b))
        x_lo = spec.x0 + tx0 * t * spec.cellx
        x_hi = spec.x0 + (tx0 + a) * t * spec.cellx
        y_hi = spec.y0 + ty0 * t * spec.celly
        y_lo = spec.y0 + (ty0 + b) * t * spec.celly
        n = N_LOOKUP[scale]
        rows = rng.integers(ty0 * t, min((ty0 + b) * t, spec.height), n)
        cols = rng.integers(tx0 * t, min((tx0 + a) * t, spec.width), n)
        xs = spec.x0 + (cols + rng.uniform(0.0, 0.3, n)) * spec.cellx
        ys = spec.y0 + (rows + rng.uniform(0.0, 0.3, n)) * spec.celly
        k = N_KNN[scale]
        yield Request((x_lo, y_lo, x_hi, y_hi), rows, cols, xs, ys,
                      rng.uniform(x_lo, x_hi, k), rng.uniform(y_lo, y_hi, k))
