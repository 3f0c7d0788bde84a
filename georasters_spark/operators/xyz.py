"""XYZ (slippy-map) Web-Mercator tile pyramid — the gdal2tiles role.

The reference ecosystem's standard publishing step for a raster is
``gdal2tiles.py``: warp to EPSG:3857, cut the global 2^z x 2^z grid of
``tile_px`` x ``tile_px`` tiles at a base zoom, then build every lower
zoom by 2x2 average-downsampling the level below (GDAL's default
``--resampling=average``).  This module re-expresses that pipeline
Spark-first over the engine's images table:

* ``xyz_base_tiles`` — the base level, one plan (``_fused_base_tiles``).
  The target lattice is generated from two ``spark.range`` calls (no
  data scan), each global pixel's source index is a pure-Column
  inverse-Mercator expression on the global Mercator square (the
  engine-stable quantized floor of the ``reproject`` module
  docstring).  ONE cogroup keyed by target tile (x, y) does the rest:
  lattice rows shuffle once (narrow ints), each source tile's encoded
  bytes ship to every target tile its Mercator bbox can feed, and each
  task gathers through the shared tile gather core
  (``reproject._gather_values``), assembles and PNG-encodes its tile.
  ``xyz_update`` rebuilds changed tiles through the same plan over a
  key-restricted lattice, so rebuilt tiles are byte-identical to a
  from-scratch pyramid.
* ``xyz_overview`` — level z-1 from level z: one grouped-map over
  (x//2, y//2) decoding <=4 children and 2x2 valid-aware block-mean
  averaging (``_average_2x2``: round half up, GDAL average semantics
  for integer bands).  Cost per level is #tiles rows — the pyramid
  above the base is metadata-scale, never a pixel-table shuffle.

Tiles are int16 grayscale PNGs through the gated ``sources.codec`` 'png'
fmt, which encodes and decodes with ``sources/png.py`` (16-bit gray,
lossless, ndv bit-preserved), so every level is exactly
re-decodable — the ``xyz_pyramid`` driver gate checksums decoded pixels
of BOTH levels against a DuckDB oracle that recomputes the warp and the
overview averaging arithmetically.

At 100-TB scale: the base-level lattice for zoom z is 4^z tiles but is
*generated*, so Catalyst prunes it with a WHERE on x/y ranges (publish a
bbox without touching the rest of the world), and the per-level overview
reduction is a single narrow shuffle of encoded tiles.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources import codec as _codec
from .reproject import R, _Q, _check_tiles, _gather_values, _tile_shape, dlit

# half-extent of the Web-Mercator square (EPSG:3857 valid domain)
M_HALF = math.pi * R


def _check_int16_tile_values(vv: np.ndarray, indv: int) -> None:
    """int16 grayscale PNG tile contract: casting would silently
    truncate fractions / wrap |v| > 32767 (and a wrap onto ndv would
    even flip data to nodata) — refuse loudly."""
    if len(vv) and ((vv != np.floor(vv)).any()
                    or (vv < -32768).any() or (vv > 32767).any()
                    or (vv == indv).any()):
        raise ValueError(
            "xyz: tile values must be int16-range integers distinct "
            "from ndv (scale/round the frame first)")


def _lattice(spark, zoom: int, tile_px: int,
             src_origin: tuple[float, float],
             src_cellsize: tuple[float, float],
             bbox_tiles: tuple[int, int, int, int] | None = None) -> DataFrame:
    """Global zoom-level pixel lattice with nearest source indices.

    Returns (trow, tcol, row, col): trow/tcol the global target pixel
    coordinates (y-down from the north-west corner of the Mercator
    square), row/col the quantized-floor nearest source pixel — the
    same engine-stable gather rule as every reproject plan (see
    reproject.py module doc).  ``bbox_tiles=(x0, y0, x1, y1)``
    restricts generation to a tile window (half-open) — partition
    pruning on a generated lattice.
    """
    side = (1 << zoom) * tile_px

    rows = spark.range(side).select(F.col("id").alias("trow"))
    cols = spark.range(side).select(F.col("id").alias("tcol"))
    if bbox_tiles is not None:
        bx0, by0, bx1, by1 = bbox_tiles
        rows = rows.filter((F.col("trow") >= by0 * tile_px)
                           & (F.col("trow") < by1 * tile_px))
        cols = cols.filter((F.col("tcol") >= bx0 * tile_px)
                           & (F.col("tcol") < bx1 * tile_px))
    return _invert(rows.crossJoin(cols), zoom, tile_px,
                   src_origin, src_cellsize)


def _invert(target: DataFrame, zoom: int, tile_px: int,
            src_origin: tuple[float, float],
            src_cellsize: tuple[float, float]) -> DataFrame:
    """Attach quantized-floor nearest source indices to a (trow, tcol)
    global-pixel frame (shared by the full lattice and the
    key-restricted incremental lattice — identical expressions, so
    rebuilt tiles are bit-identical to full-recompute tiles)."""
    side = (1 << zoom) * tile_px
    tcx = 2.0 * M_HALF / side
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    xm = F.lit(-M_HALF) + (F.col("tcol") + F.lit(0.5)) * F.lit(tcx)
    ym = F.lit(M_HALF) - (F.col("trow") + F.lit(0.5)) * F.lit(tcx)
    lon = xm / F.lit(R) * F.lit(180.0) / F.lit(math.pi)
    lat = (F.lit(2.0) * F.atan(F.exp(ym / F.lit(R))) - F.lit(math.pi / 2)) \
        * F.lit(180.0) / F.lit(math.pi)
    srow = F.floor(F.round((lat - F.lit(y0g)) / F.lit(cy), _Q)).cast("long")
    scol = F.floor(F.round((lon - F.lit(x0g)) / F.lit(cx), _Q)).cast("long")
    return target.select("trow", "tcol", srow.alias("row"), scol.alias("col"))


def _lattice_for_keys(keys: DataFrame, zoom: int, tile_px: int,
                      src_origin: tuple[float, float],
                      src_cellsize: tuple[float, float]) -> DataFrame:
    """Lattice restricted to the (x, y) tile keys in ``keys`` —
    generated per key, so cost is #affected-tiles x tile_px², not the
    global level size."""
    spark = keys.sparkSession
    i = spark.range(tile_px).select(F.col("id").alias("_i"))
    j = spark.range(tile_px).select(F.col("id").alias("_j"))
    target = keys.crossJoin(i).crossJoin(j).select(
        (F.col("y") * tile_px + F.col("_i")).alias("trow"),
        (F.col("x") * tile_px + F.col("_j")).alias("tcol"),
    )
    return _invert(target, zoom, tile_px, src_origin, src_cellsize)


def xyz_base_tiles(images: DataFrame,
                   src_origin: tuple[float, float],
                   src_cellsize: tuple[float, float],
                   zoom: int,
                   tile_px: int = 256,
                   ndv: float = -9999.0,
                   bbox_tiles: tuple[int, int, int, int] | None = None,
                   tile_shape: tuple[int, int] | None = None) -> DataFrame:
    """Base zoom level: (z, x, y, n_valid, bytes) PNG tile rows, through
    ``_fused_base_tiles`` — one exchange of M narrow lattice rows +
    the replicated source-tile bytes, one Arrow crossing whose output
    is a handful of PNG rows.  ``images`` must be a uniform tiles
    table (one row per tile key, every tile ``tile_shape``; probed by
    one job when not given)."""
    tgt = _lattice(images.sparkSession, zoom, tile_px, src_origin,
                   src_cellsize, bbox_tiles=bbox_tiles)
    return _fused_base_tiles(tgt, images, zoom, tile_px, ndv,
                             src_origin, src_cellsize, tile_shape)


def _fused_base_tiles(tgt: DataFrame, images: DataFrame, zoom: int,
                      tile_px: int, ndv: float,
                      src_origin: tuple[float, float],
                      src_cellsize: tuple[float, float],
                      tile_shape: tuple[int, int] | None,
                      keys: DataFrame | None = None,
                      lat_clip: float = 85.05112878) -> DataFrame:
    """The base level as ONE target-tile-keyed cogroup: lattice rows
    (``tgt``: trow, tcol, row, col) shuffle once, source tiles ship as
    compact encoded bytes to every target tile they can feed, and each
    task gathers + assembles + PNG-encodes in numpy.  ``keys`` (x, y),
    when given, is the set of target tiles ``tgt`` covers: replicated
    source rows semi-join to it (broadcast), so only tiles that feed a
    rebuilt target cross the exchange."""
    import pandas as pd

    t_h, t_w = _tile_shape(images, tile_shape, "xyz_base_tiles")
    side = (1 << zoom) * tile_px
    n = 1 << zoom
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    indv = int(ndv)

    # lattice keyed by target tile; indices fit int for any real zoom
    keyed = tgt.select(
        F.col("trow").cast("long").alias("trow"),
        F.col("tcol").cast("long").alias("tcol"),
        "row", "col",
        F.floor(F.col("tcol") / tile_px).cast("long").alias("_x"),
        F.floor(F.col("trow") / tile_px).cast("long").alias("_y"),
    )

    # source tile -> covered target-tile window (the affected_base_tiles
    # driver math, expressed as Column arithmetic over the tiles table;
    # the ±1-target-pixel margin makes over-approximation the only
    # failure mode, which the exact per-row indexing absorbs)
    deg = F.lit(math.pi / 180.0)
    lon_lo = F.lit(x0g) + F.col("tile_col") * F.lit(t_w * cx)
    lon_hi = F.lit(x0g) + (F.col("tile_col") + 1) * F.lit(t_w * cx)
    lat_hi = F.least(F.lit(lat_clip),
                     F.lit(y0g) + F.col("tile_row") * F.lit(t_h * cy))
    lat_lo = F.greatest(F.lit(-lat_clip),
                        F.lit(y0g) + (F.col("tile_row") + 1) * F.lit(t_h * cy))
    x_merc_lo = F.lit(R) * (lon_lo * deg)
    x_merc_hi = F.lit(R) * (lon_hi * deg)
    y_merc_hi = F.lit(R) * F.log(F.tan(F.lit(math.pi / 4) + lat_hi * deg / 2))
    y_merc_lo = F.lit(R) * F.log(F.tan(F.lit(math.pi / 4) + lat_lo * deg / 2))
    gx_lo = (x_merc_lo + F.lit(M_HALF)) / F.lit(2 * M_HALF) * side
    gx_hi = (x_merc_hi + F.lit(M_HALF)) / F.lit(2 * M_HALF) * side
    gy_lo = (F.lit(M_HALF) - y_merc_hi) / F.lit(2 * M_HALF) * side
    gy_hi = (F.lit(M_HALF) - y_merc_lo) / F.lit(2 * M_HALF) * side
    bx0 = F.greatest(F.lit(0), F.floor(F.floor(gx_lo - 1) / tile_px))
    bx1 = F.least(F.lit(n - 1), F.floor(F.ceil(gx_hi + 1) / tile_px))
    by0 = F.greatest(F.lit(0), F.floor(F.floor(gy_lo - 1) / tile_px))
    by1 = F.least(F.lit(n - 1), F.floor(F.ceil(gy_hi + 1) / tile_px))
    rep = (images
           .select(F.col("tile_row").cast("long").alias("tile_row"),
                   F.col("tile_col").cast("long").alias("tile_col"),
                   "bytes", "fmt", "w", "h", "ndv",
                   bx0.cast("long").alias("_bx0"),
                   bx1.cast("long").alias("_bx1"),
                   by0.cast("long").alias("_by0"),
                   by1.cast("long").alias("_by1"))
           .filter((F.col("_bx0") <= F.col("_bx1"))
                   & (F.col("_by0") <= F.col("_by1")))
           .withColumn("_x", F.explode(F.sequence("_bx0", "_bx1")))
           .withColumn("_y", F.explode(F.sequence("_by0", "_by1")))
           .drop("_bx0", "_bx1", "_by0", "_by1"))
    if keys is not None:
        rep = rep.join(F.broadcast(keys.select(F.col("x").alias("_x"),
                                               F.col("y").alias("_y"))),
                       ["_x", "_y"], "left_semi")

    def kernel(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        cols = ["z", "x", "y", "n_valid", "bytes"]
        if len(right):
            _check_tiles(right, t_h, t_w, "xyz_base_tiles")
        if not len(left):
            # lattice restricted by bbox_tiles: a replicated source tile
            # addressed outside the published window emits nothing
            return pd.DataFrame({c: [] for c in cols})
        vals = _gather_values(left["row"].to_numpy(np.int64),
                              left["col"].to_numpy(np.int64), right, t_h, t_w)
        arr_out = np.full((tile_px, tile_px), indv, dtype=np.int16)
        i = (left["trow"].to_numpy(np.int64) % tile_px)
        j = (left["tcol"].to_numpy(np.int64) % tile_px)
        ok = ~np.isnan(vals)
        vv = vals[ok]
        _check_int16_tile_values(vv, indv)
        arr_out[i[ok], j[ok]] = vv.astype(np.int16)
        return pd.DataFrame({
            "z": [zoom], "x": [int(key[0])], "y": [int(key[1])],
            "n_valid": [int(ok.sum())],
            "bytes": [_codec.encode_tile(arr_out, "png", ndv)],
        })

    return (keyed.groupBy("_x", "_y")
            .cogroup(rep.groupBy("_x", "_y"))
            .applyInPandas(kernel,
                           schema="z long, x long, y long, n_valid long, "
                                  "bytes binary"))


def _average_2x2(children, tile_px: int, indv: int) -> tuple[np.ndarray, int]:
    """One parent tile from its <= 4 decoded children, an iterable of
    ((x, y), int16 array): 2x2 valid-aware block mean, round half up
    (GDAL integer-band average semantics); absent children are
    all-nodata.  Returns (int16 tile, n_valid)."""
    big = np.full((2 * tile_px, 2 * tile_px), np.nan)
    for (x, y), a in children:
        af = a.astype(np.float64)
        af[af == indv] = np.nan
        oy, ox = (y % 2) * tile_px, (x % 2) * tile_px
        big[oy:oy + tile_px, ox:ox + tile_px] = af
    q = big.reshape(tile_px, 2, tile_px, 2)
    cnt = (~np.isnan(q)).sum(axis=(1, 3))
    s = np.nansum(q, axis=(1, 3))
    out = np.full((tile_px, tile_px), indv, dtype=np.int16)
    ok = cnt > 0
    out[ok] = np.floor(s[ok] / cnt[ok] + 0.5).astype(np.int16)
    return out, int(ok.sum())


def xyz_overview(tiles: DataFrame, tile_px: int = 256,
                 ndv: float = -9999.0) -> DataFrame:
    """Level z-1 from level z by 2x2 valid-aware average (round half
    up — GDAL integer-band average semantics); absent children are
    all-nodata.  One exchange of #tiles encoded rows."""
    import pandas as pd

    indv = int(ndv)

    def reduce4(pdf: pd.DataFrame) -> pd.DataFrame:
        out, n_valid = _average_2x2(
            (((int(t.x), int(t.y)),
              _codec.decode_tile(bytes(t.bytes), "png", tile_px, tile_px, ndv))
             for t in pdf.itertuples(index=False)), tile_px, indv)
        return pd.DataFrame({
            "z": [int(pdf["z"].iloc[0]) - 1],
            "x": [int(pdf["x"].iloc[0]) // 2],
            "y": [int(pdf["y"].iloc[0]) // 2],
            "n_valid": [n_valid],
            "bytes": [_codec.encode_tile(out, "png", ndv)],
        })

    keyed = tiles.withColumn("_px", F.floor(F.col("x") / 2)) \
                 .withColumn("_py", F.floor(F.col("y") / 2))
    return keyed.groupBy("_px", "_py").applyInPandas(
        reduce4, schema="z long, x long, y long, n_valid long, bytes binary")


def xyz_pyramid(images: DataFrame,
                src_origin: tuple[float, float],
                src_cellsize: tuple[float, float],
                base_zoom: int,
                min_zoom: int = 0,
                tile_px: int = 256,
                ndv: float = -9999.0,
                tile_shape: tuple[int, int] | None = None) -> DataFrame:
    """Full pyramid base_zoom..min_zoom as one unioned tile frame.

    Each level is localCheckpoint-ed (eager) before deriving the next:
    tile rows are #tiles-scale, and without the cut every overview
    level would re-execute the whole chain below it — the base warp
    would run (base_zoom - min_zoom + 1) times (measured 53 s -> ~18 s
    at the zoom-3 bench)."""
    level = xyz_base_tiles(images, src_origin, src_cellsize, base_zoom,
                           tile_px=tile_px, ndv=ndv, tile_shape=tile_shape)
    if base_zoom > min_zoom:
        level = level.localCheckpoint(eager=True)
    out = level
    for z in range(base_zoom, min_zoom, -1):
        if 4 ** z <= 256:
            # the whole remaining pyramid is <= 256 tiles (a few MB of
            # encoded rows): build every level above z in ONE task
            # instead of one grouped-map job + checkpoint per level —
            # the per-level arithmetic is identical (2x2 valid-aware
            # half-up average on the lossless-decoded child arrays)
            out = out.unionByName(_overview_tail(
                level, z, min_zoom, tile_px=tile_px, ndv=ndv))
            break
        level = xyz_overview(level, tile_px=tile_px, ndv=ndv)
        if z - 1 > min_zoom:
            level = level.localCheckpoint(eager=True)
        out = out.unionByName(level)
    return out


def _overview_tail(tiles: DataFrame, zoom: int, min_zoom: int,
                   tile_px: int = 256, ndv: float = -9999.0) -> DataFrame:
    """Levels zoom-1 .. min_zoom from the zoom-level tiles in one
    single-task pass (use only when 4^zoom is small).  Per level the
    reduction is ``xyz_overview``'s ``_average_2x2`` over the children
    (the 'png' tile fmt is lossless, so the freshly built int16 array
    IS its decode)."""
    import pandas as pd

    indv = int(ndv)

    def gen(batches):
        cur: dict[tuple[int, int], np.ndarray] = {}
        for pdf in batches:
            for t in pdf.itertuples(index=False):
                a = _codec.decode_tile(bytes(t.bytes), "png",
                                       tile_px, tile_px, ndv)
                cur[(int(t.x), int(t.y))] = a
        rows = []
        for z in range(zoom, min_zoom, -1):
            nxt: dict[tuple[int, int], np.ndarray] = {}
            parents = sorted({(x // 2, y // 2) for x, y in cur})
            for px_, py in parents:
                outa, n_valid = _average_2x2(
                    (((x, y), a) for (x, y), a in cur.items()
                     if x // 2 == px_ and y // 2 == py), tile_px, indv)
                nxt[(px_, py)] = outa
                rows.append({
                    "z": z - 1, "x": px_, "y": py,
                    "n_valid": n_valid,
                    "bytes": _codec.encode_tile(outa, "png", ndv),
                })
            cur = nxt
        yield pd.DataFrame(rows,
                           columns=["z", "x", "y", "n_valid", "bytes"])

    return tiles.select("z", "x", "y", "n_valid", "bytes").coalesce(1) \
        .mapInPandas(gen, schema="z long, x long, y long, n_valid long, "
                                 "bytes binary")


def affected_base_tiles(changed_src_tiles, src_origin, src_cellsize,
                        src_tile: int, zoom: int,
                        tile_px: int = 256,
                        lat_clip: float = 85.05112878) -> set:
    """Map changed SOURCE tiles to the base-zoom (x, y) target tiles
    whose content can depend on them.  Pure driver math over CDC
    metadata (KB-scale — the list of changed tiles, never pixels); a
    ±1-target-pixel margin absorbs the quantized-floor gather boundary,
    so over-approximation only rebuilds tiles to identical content."""
    side = (1 << zoom) * tile_px
    n = 1 << zoom
    x0, y0 = src_origin
    cx, cy = src_cellsize
    out = set()
    for tr, tc in changed_src_tiles:
        lon_lo = x0 + tc * src_tile * cx
        lon_hi = x0 + (tc + 1) * src_tile * cx
        lat_hi = y0 + tr * src_tile * cy          # cy < 0: top edge
        lat_lo = y0 + (tr + 1) * src_tile * cy
        lat_hi = min(lat_hi, lat_clip)
        lat_lo = max(lat_lo, -lat_clip)
        if lat_lo >= lat_hi:
            continue
        X_lo = R * math.radians(lon_lo)
        X_hi = R * math.radians(lon_hi)
        Y_hi = R * math.log(math.tan(math.pi / 4 + math.radians(lat_hi) / 2))
        Y_lo = R * math.log(math.tan(math.pi / 4 + math.radians(lat_lo) / 2))
        gx_lo = (X_lo + M_HALF) / (2 * M_HALF) * side
        gx_hi = (X_hi + M_HALF) / (2 * M_HALF) * side
        gy_lo = (M_HALF - Y_hi) / (2 * M_HALF) * side
        gy_hi = (M_HALF - Y_lo) / (2 * M_HALF) * side
        bx0 = max(0, int(math.floor(gx_lo - 1)) // tile_px)
        bx1 = min(n - 1, int(math.ceil(gx_hi + 1)) // tile_px)
        by0 = max(0, int(math.floor(gy_lo - 1)) // tile_px)
        by1 = min(n - 1, int(math.ceil(gy_hi + 1)) // tile_px)
        for x in range(bx0, bx1 + 1):
            for y in range(by0, by1 + 1):
                out.add((x, y))
    return out


def xyz_update(images: DataFrame,
               src_origin: tuple[float, float],
               src_cellsize: tuple[float, float],
               changed_src_tiles,
               prior: DataFrame,
               base_zoom: int,
               min_zoom: int = 0,
               src_tile: int = 64,
               tile_px: int = 256,
               ndv: float = -9999.0,
               tile_shape: tuple[int, int] | None = None) -> DataFrame:
    """Incremental pyramid maintenance — the CDC re-tiling step of a
    10^12-image lake: given the NEW images table and the list of
    changed source tiles, rebuild ONLY the affected z/x/y tiles and
    merge them over ``prior`` (the pyramid frame of the previous
    snapshot).  Per level the work is #affected-tiles x tile_px²
    gathers plus a #tiles-scale anti-join — the untouched ocean of
    tiles is never decoded, re-warped or re-encoded.  Output is the
    full pyramid at the new state, exactly equal to a from-scratch
    xyz_pyramid over the new images (the xyz_incremental gate)."""
    spark = images.sparkSession
    affected = affected_base_tiles(changed_src_tiles, src_origin,
                                   src_cellsize, src_tile, base_zoom,
                                   tile_px=tile_px)
    levels = []
    keys = sorted(affected)
    prior_lvl = {z: prior.filter(F.col("z") == z)
                 for z in range(min_zoom, base_zoom + 1)}
    if not keys:
        return prior
    keys_df = spark.createDataFrame(keys, "x long, y long")
    tgt = _lattice_for_keys(keys_df, base_zoom, tile_px,
                            src_origin, src_cellsize)
    rebuilt = _fused_base_tiles(tgt, images, base_zoom, tile_px, ndv,
                                src_origin, src_cellsize, tile_shape,
                                keys=keys_df)
    merged = prior_lvl[base_zoom].join(
        F.broadcast(keys_df), ["x", "y"], "left_anti"
    ).unionByName(rebuilt).localCheckpoint(eager=True)
    levels.append(merged)
    for z in range(base_zoom, min_zoom, -1):
        parents = sorted({(x // 2, y // 2) for x, y in keys})
        pkeys_df = spark.createDataFrame(parents, "x long, y long")
        children = merged.join(
            F.broadcast(pkeys_df.select(
                F.col("x").alias("_px"), F.col("y").alias("_py"))),
            (F.floor(F.col("x") / 2) == F.col("_px"))
            & (F.floor(F.col("y") / 2) == F.col("_py")),
        ).drop("_px", "_py")
        rebuilt_p = xyz_overview(children, tile_px=tile_px, ndv=ndv)
        merged = prior_lvl[z - 1].join(
            F.broadcast(pkeys_df), ["x", "y"], "left_anti"
        ).unionByName(rebuilt_p).localCheckpoint(eager=True)
        levels.append(merged)
        keys = parents
    out = levels[0]
    for lvl in levels[1:]:
        out = out.unionByName(lvl)
    return out


# ---------------------------------------------------------------------------
# DuckDB oracle emitter (driver gate): recomputes the warp and the 2x2
# overview averaging arithmetically from the synthetic pixel formulas.
# ---------------------------------------------------------------------------

def xyz_checksum_sql(px_cte: str,
                     src_origin: tuple[float, float],
                     src_cellsize: tuple[float, float],
                     zoom: int, tile_px: int = 256) -> str:
    """Per-tile (z, x, y, n_valid, checksum) for the base level AND one
    overview level, checksum = sum(value * (1 + local_pos % 97)) —
    mirrors the decode-side checksum of q_xyz_pyramid term for term."""
    side = (1 << zoom) * tile_px
    tcx = 2.0 * M_HALF / side
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    t = tile_px
    return f"""WITH {px_cte},
tgt AS (
  SELECT CAST(tr.range AS BIGINT) AS trow, CAST(tc.range AS BIGINT) AS tcol,
         {dlit(-M_HALF)} + (tc.range + 0.5) * {dlit(tcx)} AS xm,
         {dlit(M_HALF)} - (tr.range + 0.5) * {dlit(tcx)} AS ym
  FROM range({side}) tr CROSS JOIN range({side}) tc),
loc AS (
  SELECT trow, tcol,
         CAST(FLOOR(ROUND(((2.0 * atan(exp(ym / {dlit(R)})) - {dlit(math.pi / 2)}) * 180.0 / pi() - {dlit(y0g)}) / {dlit(cy)}, {_Q})) AS BIGINT) AS row,
         CAST(FLOOR(ROUND((xm / {dlit(R)} * 180.0 / pi() - {dlit(x0g)}) / {dlit(cx)}, {_Q})) AS BIGINT) AS col
  FROM tgt),
base AS (
  SELECT loc.trow, loc.tcol, px.value
  FROM loc LEFT JOIN px ON px.row = loc.row AND px.col = loc.col),
blev AS (
  SELECT CAST({zoom} AS BIGINT) AS z, trow // {t} AS y, tcol // {t} AS x,
         CAST(COUNT(value) AS BIGINT) AS n_valid,
         CAST(COALESCE(SUM(value * (1 + ((trow % {t}) * {t} + tcol % {t}) % 97)), 0) AS BIGINT) AS checksum
  FROM base GROUP BY 2, 3),
opix AS (
  SELECT trow // 2 AS orow, tcol // 2 AS ocol,
         CASE WHEN COUNT(value) > 0
              THEN CAST(FLOOR(AVG(CAST(value AS DOUBLE)) + 0.5) AS BIGINT)
         END AS v
  FROM base GROUP BY 1, 2),
olev AS (
  SELECT CAST({zoom - 1} AS BIGINT) AS z, orow // {t} AS y, ocol // {t} AS x,
         CAST(COUNT(v) AS BIGINT) AS n_valid,
         CAST(COALESCE(SUM(v * (1 + ((orow % {t}) * {t} + ocol % {t}) % 97)), 0) AS BIGINT) AS checksum
  FROM opix GROUP BY 2, 3)
SELECT z, x, y, n_valid, checksum FROM blev
UNION ALL
SELECT z, x, y, n_valid, checksum FROM olev"""
