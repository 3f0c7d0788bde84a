"""Generic focal (neighborhood) operators: distributed k×k stencils.

The reference's escape hatch for neighborhood filters is `gr.raster`
+ scipy.ndimage on a single in-memory array (SURVEY §2.6 ufunc family);
at 10^12 pixels that array does not exist. Here a stencil runs as ONE
grouped-map stage over tiles with an m = k//2 cell halo (the same
halo-replication trick as distance.block_sssp): every pixel is shipped
to its home tile plus any adjacent tile whose window overlaps it, each
task rebuilds its (tile+2m)² window in numpy, applies the kernel with
numpy sliding windows, and emits only its interior cells — so results
are exactly what a single giant array would produce, with per-task
memory (tile+2m)² and a single hash exchange on the tile keys.
`focal_apply_tiles` is the same stencil straight off the stored tiles.

These two are the engine's only per-cell neighborhood aggregate:
terrain's Horn sums, TPI/TRI/roughness and D8 direction and
autocorr.focal_stats are numpy stencils passed to them. Integer
stencils cast the valid window to int64 before they sum, so their sums
are exact; values of magnitude 2^53 or more raise (float64 window).

`focal_sums` (sum/count/mean of valid cells in the k×k window,
self-inclusive) is the exactly-gated instance: integer window sums are
bit-reproducible, and the DuckDB oracle recomputes them with a
(2m+1)²-offset neighbor join — an independent check that the halo
assembly loses/duplicates nothing across tile seams.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _halo_tiled(px: DataFrame, tile: int, m: int) -> DataFrame:
    """Pixels replicated to home tile + any neighbor tile whose k×k
    windows reach them (border band of width m)."""
    if not (0 < m < tile):
        raise ValueError("need 0 < k//2 < tile")
    spark = px.sparkSession
    offsets = spark.createDataFrame(
        [(da, db) for da in (-1, 0, 1) for db in (-1, 0, 1)],
        "da int, db int",
    )
    base = px.select(
        "row", "col", "value",
        F.floor(F.col("row") / tile).alias("_tr"),
        F.floor(F.col("col") / tile).alias("_tc"),
        F.pmod(F.col("row"), tile).alias("_br"),
        F.pmod(F.col("col"), tile).alias("_bc"),
    )
    member = (
        ((F.col("da") == -1) & (F.col("_br") < m))
        | (F.col("da") == 0)
        | ((F.col("da") == 1) & (F.col("_br") >= tile - m))
    ) & (
        ((F.col("db") == -1) & (F.col("_bc") < m))
        | (F.col("db") == 0)
        | ((F.col("db") == 1) & (F.col("_bc") >= tile - m))
    )
    return (
        base.crossJoin(F.broadcast(offsets))
        .filter(member)
        .select(
            "row", "col", "value",
            (F.col("_tr") + F.col("da")).alias("trow"),
            (F.col("_tc") + F.col("db")).alias("tcol"),
        )
    )


# float64 holds every integer of magnitude below 2^53 exactly; integer
# stencils cast their windows back to int64, so larger values would
# round silently on the way into the window
_EXACT_INT = 2 ** 53


def _window_values(values: pd.Series) -> np.ndarray:
    """Pixel values as the float64 the stencil window carries; integer
    values beyond ±2^53 raise instead of rounding."""
    v = values.to_numpy()
    if v.dtype.kind in "iu" and len(v) and (
            v.max() >= _EXACT_INT or v.min() <= -_EXACT_INT):
        raise ValueError(
            "focal stencil: |value| >= 2^53 does not fit the float64 "
            "window exactly; rescale values")
    return v.astype(np.float64)


def _stencil_rows(val: np.ndarray, fn, k: int, r0: int, c0: int) -> pd.DataFrame:
    """Run fn over the k×k sliding windows of a padded value array (nan
    = no data; its m-wide border is halo) and emit the VALID interior
    cells, whose top-left sits at grid cell (r0, c0)."""
    m = k // 2
    valid = ~np.isnan(val)
    swv = np.lib.stride_tricks.sliding_window_view(val, (k, k))
    swm = np.lib.stride_tricks.sliding_window_view(valid, (k, k))
    res = fn(swv, swm)  # (t, t) or dict of (t, t)
    rr, cc = np.nonzero(valid[m:-m, m:-m])
    out = {"row": rr.astype(np.int64) + r0, "col": cc.astype(np.int64) + c0}
    if isinstance(res, dict):
        for name, arr in res.items():
            out[name] = arr[rr, cc]
    else:
        out["value"] = res[rr, cc]
    return pd.DataFrame(out)


def focal_apply(
    px: DataFrame,
    fn,
    k: int,
    tile: int = 128,
    out_schema: str = "row long, col long, value double",
) -> DataFrame:
    """Run an arbitrary k×k stencil `fn` distributed with exact tile-
    seam semantics. fn(win, valid) receives the k×k sliding-window
    views of the tile's padded value array (shape (t, t, k, k), nan
    outside the data) and the matching validity windows, and returns
    one array (t, t) — or a dict of named (t, t) arrays matching
    out_schema. Only VALID interior cells emit rows. Integer values
    must stay below 2^53 in magnitude (ValueError otherwise)."""
    m = k // 2

    def kernel(key, pdf):
        r0, c0 = int(key[0]) * tile, int(key[1]) * tile
        val = np.full((tile + 2 * m, tile + 2 * m), np.nan)
        val[pdf["row"].to_numpy(np.int64) - (r0 - m),
            pdf["col"].to_numpy(np.int64) - (c0 - m)] = _window_values(pdf["value"])
        return _stencil_rows(val, fn, k, r0, c0)

    return _halo_tiled(px, tile, m).groupBy("trow", "tcol").applyInPandas(
        kernel, schema=out_schema
    )


def int_window(swv, swm):
    """The valid cells of each window as exact int64 (0 where invalid):
    what an integer stencil sums, like the BIGINT oracles."""
    return np.where(swm, swv, 0).astype(np.int64)


_SUMS_SCHEMA = "row long, col long, value long, fsum long, fcnt long"


def _sums_stencil(k: int):
    """focal_sums' stencil: the center value, the exact int64 sum of the
    valid cells of the k×k window and their count."""
    m = k // 2

    def fn(swv, swm):
        v = int_window(swv, swm)
        # the window center IS the cell's own value (valid interior
        # cells only ever emit), so no join back against px
        return {"value": v[:, :, m, m], "fsum": v.sum(axis=(2, 3)),
                "fcnt": swm.sum(axis=(2, 3)).astype(np.int64)}

    return fn


def _sums_select(raw: DataFrame, round_dp: int) -> DataFrame:
    return raw.select(
        "row", "col", "value", "fsum", "fcnt",
        F.round(F.col("fsum") / F.col("fcnt"), round_dp).alias("fmean"),
    )


def focal_sums(px: DataFrame, k: int, tile: int = 128, round_dp: int = 6) -> DataFrame:
    """Exact k×k focal sum/count/mean of VALID cells (self-inclusive):
    (row, col, value, fsum, fcnt, fmean). Integer inputs stay exact
    BIGINTs through the window sums; fmean = round(double(fsum)/fcnt)."""
    return _sums_select(focal_apply(
        px.select("row", "col", F.col("value").cast("long").alias("value")),
        _sums_stencil(k), k, tile=tile, out_schema=_SUMS_SCHEMA,
    ), round_dp)


def focal_sums_sql(px_cte: str, k: int, round_dp: int = 6) -> str:
    """DuckDB oracle: the same focal sums via a (2m+1)²-offset neighbor
    join — independent of the tile/halo machinery."""
    m = k // 2
    offsets = ", ".join(
        f"({dr}, {dc})" for dr in range(-m, m + 1) for dc in range(-m, m + 1)
    )
    return f"""WITH {px_cte},
offs(dr, dc) AS (VALUES {offsets}),
cand AS (
  SELECT a.row, a.col, a.value, a.row + o.dr AS r2, a.col + o.dc AS c2
  FROM px a CROSS JOIN offs o),
s AS (
  SELECT cand.row, cand.col, CAST(MIN(cand.value) AS BIGINT) AS value,
         CAST(SUM(b.value) AS BIGINT) AS fsum,
         CAST(COUNT(*) AS BIGINT) AS fcnt
  FROM cand JOIN px b ON b.row = cand.r2 AND b.col = cand.c2
  GROUP BY 1, 2)
SELECT row, col, value, fsum, fcnt,
       ROUND(CAST(fsum AS DOUBLE) / fcnt, {round_dp}) AS fmean
FROM s"""


# ---------------------------------------------------------------------------
# tiles-in stencil: decode in place, exchange only halo strips
# ---------------------------------------------------------------------------

def _strips_from_tiles(images: DataFrame, m: int, block: int = 1) -> DataFrame:
    """Decode each stored tile ONCE (mapInPandas, no shuffle) and emit
    only its width-m halo bands as pixel rows addressed to the
    neighboring SUPERBLOCK stencil tasks: (trow, tcol, row, col,
    value), valid cells only, trow/tcol in block units.  Per tile that
    is ~2m(h+w)+4m² rows instead of h·w — the stencil analog of
    gather_from_tiles' no-pixel-explode rule; with block > 1 only the
    bands that actually cross a block boundary ship (interior seams
    resolve inside the task that holds both tiles)."""
    from ..sources import codec as _codec

    def gen(batches):
        cols = ["trow", "tcol", "row", "col", "value"]
        for pdf in batches:
            outs = []
            for t in pdf.itertuples(index=False):
                ndv = float(t.ndv)
                arr = None
                h, w = int(t.h), int(t.w)
                ty, tx = int(t.tile_row), int(t.tile_col)
                for da in (-1, 0, 1):
                    for db in (-1, 0, 1):
                        if da == 0 and db == 0:
                            continue
                        if ty + da < 0 or tx + db < 0:
                            continue
                        # superblock of the neighbor tile: skip bands
                        # that stay inside this tile's own block
                        by, bx = (ty + da) // block, (tx + db) // block
                        if by == ty // block and bx == tx // block:
                            continue
                        if arr is None:
                            arr = _codec.decode_tile(
                                bytes(t.bytes), t.fmt, w, h, ndv
                            ).astype(np.float64)
                            h, w = arr.shape
                            if m >= min(h, w):
                                raise ValueError(
                                    f"focal tiles plan: halo width {m} must "
                                    f"be < tile side ({h}x{w}); re-tile or "
                                    "shrink the kernel")
                        # the band of THIS tile adjacent to that neighbor
                        rs = (slice(h - m, h) if da == 1
                              else slice(0, m) if da == -1 else slice(0, h))
                        cs = (slice(w - m, w) if db == 1
                              else slice(0, m) if db == -1 else slice(0, w))
                        sub = arr[rs, cs]
                        vi, vj = np.nonzero(sub != ndv)
                        if not len(vi):
                            continue
                        outs.append(pd.DataFrame({
                            "trow": np.int64(by),
                            "tcol": np.int64(bx),
                            "row": ty * h + (rs.start or 0) + vi.astype(np.int64),
                            "col": tx * w + (cs.start or 0) + vj.astype(np.int64),
                            "value": sub[vi, vj],
                        }))
            yield (pd.concat(outs) if outs
                   else pd.DataFrame({c: [] for c in cols}))

    return images.select(
        "tile_row", "tile_col", "bytes", "fmt", "w", "h", "ndv"
    ).mapInPandas(
        gen, schema="trow long, tcol long, row long, col long, value double"
    )


def focal_apply_tiles(
    images: DataFrame,
    fn,
    k: int,
    out_schema: str = "row long, col long, value double",
    tile_shape: tuple[int, int] | None = None,
) -> DataFrame:
    """`focal_apply` semantics straight off the stored tiles table —
    the 100-TB stencil plan: tiles decode inside their own stencil task
    (bytes move through ONE hash exchange on the tile key), and the
    only pixel rows that ever cross tasks are the width-m halo strips.
    No pixel explode, no halo replication of the interior.

    fn(win, valid) is exactly the `focal_apply` kernel contract.
    Requires the uniform-tile images layout: duplicate tile keys and
    tiles of another w/h raise (reproject's tiles-table contract)."""
    from ..sources import codec as _codec
    from .reproject import _check_tiles, _tile_shape

    m = k // 2
    if m < 1:
        raise ValueError("need k >= 3 (k//2 >= 1)")
    # SUPERBLOCKS of B×B stored tiles per task, sized for ~64k cells of
    # stencil work: one-tile groups drown in per-group Python overhead
    # (the gather_from_tiles measurement), and intra-block seams then
    # resolve in-task so only block-boundary strips ever ship
    t_h, t_w = _tile_shape(images, tile_shape, "focal_apply_tiles")
    block = max(1, int(round(math.sqrt(65536.0 / max(1, t_w * t_h)))))

    def kernel(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        cols = [c.strip().split()[0] for c in out_schema.split(",")]
        if not len(right):
            # strips addressed past the grid edge: no home tiles, no rows
            return pd.DataFrame({c: [] for c in cols})
        _check_tiles(right, t_h, t_w, "focal_apply_tiles")
        by, bx = int(key[0]), int(key[1])
        base_r, base_c = by * block * t_h - m, bx * block * t_w - m
        val = np.full((block * t_h + 2 * m, block * t_w + 2 * m), np.nan)
        for t in right.itertuples(index=False):
            ndv = float(t.ndv)
            arr = _codec.decode_tile(bytes(t.bytes), t.fmt,
                                     int(t.w), int(t.h), ndv
                                     ).astype(np.float64)
            h, w = arr.shape
            # validated here, with rows the task already holds — never
            # as an extra driver-side scan job before the real one
            if m >= min(h, w):
                raise ValueError(
                    f"focal_apply_tiles: k//2 = {m} must be < tile side "
                    f"({h}x{w}); re-tile or shrink the kernel")
            arr[arr == ndv] = np.nan
            r0 = int(t.tile_row) * h - base_r
            c0 = int(t.tile_col) * w - base_c
            val[r0:r0 + h, c0:c0 + w] = arr
        if len(left):
            val[left["row"].to_numpy(np.int64) - base_r,
                left["col"].to_numpy(np.int64) - base_c] = left["value"].to_numpy(np.float64)
        return _stencil_rows(val, fn, k, base_r + m, base_c + m)

    imgs_keyed = images.select(
        F.col("tile_row").cast("long").alias("tile_row"),
        F.col("tile_col").cast("long").alias("tile_col"),
        "bytes", "fmt", "w", "h", "ndv",
    ).withColumn(
        "_btr", F.floor(F.col("tile_row") / block).cast("long")
    ).withColumn(
        "_btc", F.floor(F.col("tile_col") / block).cast("long")
    )
    return (
        _strips_from_tiles(images, m, block=block)
        .groupBy("trow", "tcol")
        .cogroup(imgs_keyed.groupBy("_btr", "_btc"))
        .applyInPandas(kernel, schema=out_schema)
    )


def focal_sums_tiles(images: DataFrame, k: int,
                     round_dp: int = 6,
                     tile_shape: tuple[int, int] | None = None) -> DataFrame:
    """`focal_sums` off the stored tiles table via focal_apply_tiles —
    value-identical to focal_sums(pixel_table(images, valid_only=True))
    (pytest-pinned) with no pixel explode."""
    return _sums_select(focal_apply_tiles(
        images, _sums_stencil(k), k, tile_shape=tile_shape,
        out_schema=_SUMS_SCHEMA,
    ), round_dp)
