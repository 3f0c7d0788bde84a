"""Spatial joins: point-in-polygon, zonal statistics, clip.

Re-realizes the reference's clip/stats (rasterstats zonal_stats with
all_touched=True, georasters.py:870-947) as ONE Spark plan, shared by
zonal_stats, zonal_stats_extended, zonal_stats_custom and clip:

  1. **tile pruning** — tiles whose bbox misses every zone bbox are
     dropped *before* decode (the Iceberg min/max file-skipping analog;
     reference analog: rasterstats window-crops to the polygon bbox).
  2. **fused decode + PIP** — zones are broadcast (small side); one
     Arrow mapInPandas stage decodes each tile once and tests its valid
     cells against every zone (bbox prefilter, then the even-odd
     ray-cast or the all_touched cell test), yielding each zone's hit
     cells and values per tile (``_iter_zone_hits``).
  3. **per-task folding in the same stage** — each operator folds the
     hits: exact int64 moments (zonal_stats), a (zone, value) count
     table (zonal_stats_extended), add_stats partials or per-pixel rows
     (zonal_stats_custom, clip's tile assembly).  The zone-keyed
     aggregate then shuffles O(zones × partitions) partial rows: a
     continent-sized zone is spread over every task's partials, so a
     hot zone needs no key salting.

At 100 TB the zone table stays broadcastable (thousands of polygons);
the only shuffle is the zone-keyed aggregate of per-task partials.
``pip_join`` runs the same per-zone hit test over rows that already
carry cell centers (rasterize, reproject.warp_cutline).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import geometry as geom
from ..operators import pixels as PX


def prune_tiles(images: DataFrame, zones) -> DataFrame:
    """Keep only tiles whose bbox intersects >=1 zone bbox (pure Column
    predicate -> pushed to the parquet scan when images is a table)."""
    pred = None
    for z in zones:
        bx0, by0, bx1, by1 = geom.rings_bbox(z.rings)
        tile_x1 = F.col("xmin") + F.col("w") * F.col("cellx")
        tile_y1 = F.col("ymax") + F.col("h") * F.col("celly")
        p = (
            (F.col("xmin") < F.lit(bx1))
            & (tile_x1 > F.lit(bx0))
            & (F.col("ymax") > F.lit(by0))
            & (tile_y1 < F.lit(by1))
        )
        pred = p if pred is None else (pred | p)
    return images.filter(pred) if pred is not None else images


def _zone_list(zones, mode: str, cellsize) -> list:
    """Broadcast form of the zones: (zone_id, float64 rings, bbox).  In
    all_touched mode the bbox is padded by one cell so the prefilter
    still sees cells whose rectangle (not center) reaches the polygon."""
    if mode == "all_touched" and cellsize is None:
        raise ValueError("all_touched needs cellsize=(cellx, celly)")
    padx, pady = (
        (abs(cellsize[0]), abs(cellsize[1])) if mode == "all_touched" else (0.0, 0.0)
    )
    out = []
    for z in zones:
        bx0, by0, bx1, by1 = geom.rings_bbox(z.rings)
        out.append((
            int(z.zone_id),
            [np.asarray(r, dtype=np.float64) for r in z.rings],
            (bx0 - padx, by0 - pady, bx1 + padx, by1 + pady),
        ))
    return out


def _zone_hit_index(xs, ys, zone, mode: str, cellsize) -> np.ndarray:
    """Indices of the cells centered at (xs, ys) that hit one zone of
    _zone_list: bbox prefilter, then ray-cast only the candidates —
    even-odd PIP of the center (mode='center') or the rasterstats
    all_touched cell test (georasters.py:884-886)."""
    _, rings, (bx0, by0, bx1, by1) = zone
    cand = np.flatnonzero((xs >= bx0) & (xs <= bx1) & (ys >= by0) & (ys <= by1))
    if cand.size == 0:
        return cand
    if mode == "center":
        return cand[geom.points_in_rings(xs[cand], ys[cand], rings)]
    return cand[geom.cells_touched(xs[cand], ys[cand], cellsize[0], cellsize[1], rings)]


def pip_join(
    pixel_df: DataFrame,
    zones,
    mode: str = "center",
    cellsize: tuple[float, float] | None = None,
) -> DataFrame:
    """(rows with cell centers xc, yc) x zones -> one row per (row, zone)
    hit: every input column + zone_id.  For lattices that already carry
    their centers (rasterize, reproject.warp_cutline); tiles go through
    the fused zonal plan instead.

    mode='center': cell-center even-odd PIP (exact SQL oracle exists for
    convex zones). mode='all_touched': rasterstats all_touched=True
    semantics (georasters.py:884-886).
    """
    from pyspark.sql import types as T

    zlist = _zone_list(zones, mode, cellsize)
    out_schema = T.StructType(
        list(pixel_df.schema.fields) + [T.StructField("zone_id", T.LongType())]
    )

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            xs = pdf["xc"].to_numpy(dtype=np.float64)
            ys = pdf["yc"].to_numpy(dtype=np.float64)
            outs = []
            for zone in zlist:
                idx = _zone_hit_index(xs, ys, zone, mode, cellsize)
                if idx.size:
                    sub = pdf.iloc[idx].copy()
                    sub["zone_id"] = zone[0]
                    outs.append(sub)
            if outs:
                yield pd.concat(outs)

    return pixel_df.mapInPandas(kernel, schema=out_schema)


def _iter_zone_hits(batches, zlist, origin, cellsize, mode):
    """The fused decode+PIP core: iterate Arrow batches of tile rows,
    decode each tile once (PX.decode_cells) and yield, for every zone
    the tile hits, (zone_id, rows, cols, values) of its hit cells —
    values in the decode's dtype.  Every zonal operator and clip fold
    these hits, so their hit sets are identical by construction."""
    x0, y0 = origin
    cx, cy = cellsize
    for pdf in batches:
        for t in pdf.itertuples(index=False):
            gr, gc, vals = PX.decode_cells(t)
            xc = x0 + (gc + 0.5) * cx
            yc = y0 + (gr + 0.5) * cy
            for zone in zlist:
                idx = _zone_hit_index(xc, yc, zone, mode, cellsize)
                if idx.size:
                    yield zone[0], gr[idx], gc[idx], vals[idx]


def _zone_plan(images: DataFrame, zones, origin, cellsize, mode: str,
               fold, schema: str) -> DataFrame:
    """Prune the tiles to the zone bboxes, then ONE Arrow stage: the
    fused core's hits fed to ``fold(hits)``, a generator of pandas
    frames in ``schema`` (the per-task partials or per-pixel rows)."""
    zlist = _zone_list(zones, mode, cellsize)

    def kernel(batches):
        yield from fold(_iter_zone_hits(batches, zlist, origin, cellsize, mode))

    return prune_tiles(images, zones).select(*PX.tile_columns(images)).mapInPandas(
        kernel, schema=schema
    )


def _int64(v: np.ndarray) -> np.ndarray:
    """Hit values as exact int64 for the moment and count kernels.  An
    integer decode casts as is; a floating decode must hold whole
    numbers — a fractional (or non-finite) value raises instead of
    silently truncating."""
    if v.dtype.kind == "f" and not (np.isfinite(v) & (v == np.trunc(v))).all():
        raise ValueError(
            "zonal stats need integer-valued cells: the exact int64 "
            "moments and count table would silently truncate fractional "
            "data; round/scale the raster first")
    return v.astype(np.int64)


def _pixel_rows(hits, cells: bool = False):
    """Fold the hits into per-pixel rows (zone_id[, row, col], value
    double), flushed in frames of about 64Ki rows so a task holds at
    most one frame of hits at a time."""
    buf, n = [], 0
    for hit in hits:
        buf.append(hit)
        n += hit[3].size
        if n >= 1 << 16:
            yield _rows_frame(buf, cells)
            buf, n = [], 0
    if buf:
        yield _rows_frame(buf, cells)


def _rows_frame(buf, cells: bool) -> pd.DataFrame:
    out = {"zone_id": np.concatenate([np.full(v.size, z, np.int64) for z, _, _, v in buf])}
    if cells:
        out["row"] = np.concatenate([r for _, r, _, _ in buf])
        out["col"] = np.concatenate([c for _, _, c, _ in buf])
    out["value"] = np.concatenate([v for *_, v in buf]).astype(np.float64)
    return pd.DataFrame(out)


def _moment_cols() -> list:
    """Base output columns from the exact zcount/zsum/zsum2/zmin/zmax
    sums (derived moments deterministic for the DuckDB oracle)."""
    mean = F.col("zsum") / F.col("zcount")
    return [
        "zone_id",
        F.col("zcount").cast("long").alias("zcount"),
        F.col("zsum").cast("long").alias("zsum"),
        F.col("zmin").cast("long").alias("zmin"),
        F.col("zmax").cast("long").alias("zmax"),
        F.round(mean, 6).alias("zmean"),
        F.round(F.sqrt(F.col("zsum2") / F.col("zcount") - mean * mean), 6).alias("zstd"),
    ]


def zonal_stats(
    images: DataFrame,
    zones,
    origin: tuple[float, float],
    cellsize: tuple[float, float],
    mode: str = "center",
) -> DataFrame:
    """Per-zone stats of valid pixels: the reference stats() surface
    (mean/min/max/count/sum/std, georasters.py:908-947). Output columns:
      zone_id, zcount, zsum, zmin, zmax, zmean, zstd

    Each task folds its hits into per-zone count/sum/sum2/min/max as
    exact int64 partials, so the one shuffle moves O(zones × partitions)
    rows however many pixels a zone covers.  Needs integer-valued cells:
    a fractional value raises rather than truncating.
    """

    def fold(hits):
        acc: dict[int, list] = {}
        for zid, _, _, v in hits:
            v = _int64(v)
            a = acc.setdefault(zid, [0, 0, 0, None, None])
            a[0] += int(v.size)
            a[1] += int(v.sum())
            a[2] += int((v * v).sum())
            a[3] = int(v.min()) if a[3] is None else min(a[3], int(v.min()))
            a[4] = int(v.max()) if a[4] is None else max(a[4], int(v.max()))
        if acc:
            yield pd.DataFrame([[z, *a] for z, a in acc.items()],
                               columns=["zone_id", "c", "s", "s2", "mn", "mx"])

    partials = _zone_plan(
        images, zones, origin, cellsize, mode, fold,
        "zone_id long, c long, s long, s2 long, mn long, mx long")
    agg = partials.groupBy("zone_id").agg(
        F.sum("c").alias("zcount"),
        F.sum("s").alias("zsum"),
        F.sum("s2").alias("zsum2"),
        F.min("mn").alias("zmin"),
        F.max("mx").alias("zmax"),
    )
    return agg.select(*_moment_cols())


zonal_stats_fused = zonal_stats  # name kept for existing callers


def clip(
    images: DataFrame,
    zones,
    origin: tuple[float, float],
    cellsize: tuple[float, float],
    tile: int = 64,
    ndv: float = -9999.0,
    mode: str = "all_touched",
    keep: bool = False,
    fmt: str = "raw16",
    dtype: str = "int16",
) -> DataFrame:
    """Per-zone sub-rasters (reference clip, georasters.py:870-906): the
    fused core's per-pixel hits re-assembled into mini-tiles in ONE
    grouped-map stage keyed by (zone_id, tile block) — the plan is O(1)
    in the number of zones (no per-zone branch/union loop, which would
    explode the driver plan at 10^4 polygons). Returns images-schema
    rows + zone_id, image_id prefixed by the zone id.  fmt/dtype set the
    output tile encoding — pass float64/rawf64 for non-integer input
    (frame facade does)."""
    from ..sources.synth import IMAGES_SCHEMA

    hits = _zone_plan(
        images, zones, origin, cellsize, mode,
        lambda h: _pixel_rows(h, cells=True),
        "zone_id long, row long, col long, value double")
    keyed = hits.withColumn(
        "tile_row", F.floor(F.col("row") / tile).cast("int")
    ).withColumn("tile_col", F.floor(F.col("col") / tile).cast("int"))

    def build(key, pdf: pd.DataFrame) -> pd.DataFrame:
        zid, ty, tx = int(key[0]), int(key[1]), int(key[2])
        rec = PX.build_tile_record(
            pdf, ty, tx, f"clip_z{zid}", origin, cellsize, tile, ndv,
            fmt=fmt, dtype=dtype, crs="EPSG:4326", cell_res=3,
        )
        rec["zone_id"] = zid
        return pd.DataFrame([rec])

    out = keyed.groupBy("zone_id", "tile_row", "tile_col").applyInPandas(
        build, schema=IMAGES_SCHEMA + ", zone_id long"
    )
    if keep:
        # reference keep=True merges the polygon attributes onto the
        # output (georasters.py:894-898): broadcast the tiny attr table
        spark = images.sparkSession
        attrs = spark.createDataFrame(
            [(int(z.zone_id), z.name) for z in zones], "zone_id long, zone_name string"
        )
        out = out.join(F.broadcast(attrs), "zone_id", "left")
    return out


def zonal_stats_extended(
    images: DataFrame,
    zones,
    origin: tuple[float, float],
    cellsize: tuple[float, float],
    mode: str = "center",
    percentiles: list[float] | None = None,
) -> DataFrame:
    """zonal_stats + exact ``zmedian`` and ``zmajority`` — plus
    ``zp<q>`` columns for each q in `percentiles` — the remaining
    rasterstats built-in stat names (median/majority/percentile_XX,
    georasters.py:908-947). Percentiles use numpy's default linear
    interpolation (rank = (n−1)·q/100, v = v_lo + frac·(v_hi − v_lo)),
    computed exactly from the value-count order statistics.

    Scale design: every column — base moments included (zsum = Σ v·cnt,
    zsum2 = Σ v²·cnt stay exact BIGINTs) — derives from the per-(zone,
    value) COUNT table that each task folds from the fused core's hits.
    For integer rasters that table is bounded by the value DOMAIN per
    zone (e.g. 2000 rows here), not the zone's pixel count, so a
    continent-sized zone costs the same as a small one; fractional
    values raise.

    * median — zone-partitioned running sum over the counts (ordered by
      value), then the k1/k2 middle elements via MIN(CASE); exact,
      including the even-count two-middle average.
    * majority — max_by(value, (cnt, -value)): most frequent value,
      ties broken by the SMALLEST value (rasterstats keeps an arbitrary
      mode; we pin a deterministic rule).
    """
    from pyspark.sql import Window as W

    def fold(hits):
        acc: dict[tuple[int, int], int] = {}
        for zid, _, _, v in hits:
            u, c = np.unique(_int64(v), return_counts=True)
            for val, cnt in zip(u.tolist(), c.tolist()):
                acc[(zid, val)] = acc.get((zid, val), 0) + cnt
        if acc:
            yield pd.DataFrame([[z, val, n] for (z, val), n in acc.items()],
                               columns=["zone_id", "value", "cnt"])

    vc = _zone_plan(
        images, zones, origin, cellsize, mode, fold,
        "zone_id long, value long, cnt long",
    ).groupBy("zone_id", "value").agg(F.sum("cnt").alias("cnt"))
    # everything below is ONE downstream of vc (windows + a single
    # grouped aggregate, no joins) — so the count table, and with it
    # the fused decode+PIP kernel, computes exactly once
    vc2 = vc.select(
        "zone_id", "value", "cnt",
        F.sum("cnt").over(W.partitionBy("zone_id").orderBy("value")).alias("cum"),
        F.sum("cnt").over(W.partitionBy("zone_id")).alias("tot"),
    )
    k1 = ((F.col("tot") + 1) / 2).cast("long")
    k2 = (F.col("tot") / 2).cast("long") + 1
    med_aggs = [
        F.min(F.when(F.col("cum") >= k1, F.col("value"))).alias("m1"),
        F.min(F.when(F.col("cum") >= k2, F.col("value"))).alias("m2"),
    ]
    pct_cols = []
    for q in percentiles or []:
        # numpy-linear order statistics: j = floor((n-1)q/100), indexes
        # j and min(j+1, n-1) (1-based ranks j+1 / min(j+2, n))
        tag = f"zp{q:g}".replace(".", "_")
        jq = F.floor((F.col("tot") - 1) * F.lit(float(q)) / F.lit(100.0))
        med_aggs += [
            F.min(F.when(F.col("cum") >= jq + 1, F.col("value"))).alias(f"_{tag}_lo"),
            F.min(F.when(F.col("cum") >= F.least(jq + 2, F.col("tot")), F.col("value"))).alias(f"_{tag}_hi"),
            F.first(
                (F.col("tot") - 1) * F.lit(float(q)) / F.lit(100.0) - jq
            ).alias(f"_{tag}_frac"),
        ]
        pct_cols.append(tag)
    v, c = F.col("value"), F.col("cnt")
    g = vc2.groupBy("zone_id").agg(
        F.sum(c).alias("zcount"),
        F.sum(v * c).alias("zsum"),
        F.sum(v * v * c).alias("zsum2"),
        F.min(v).alias("zmin"),
        F.max(v).alias("zmax"),
        *med_aggs,
        F.max_by(
            "value", F.struct(F.col("cnt").alias("c"), (-F.col("value")).alias("nv"))
        ).cast("long").alias("zmajority"),
        # minority = LEAST frequent value, ties to the smallest value;
        # unique = distinct value count (rasterstats minority/unique)
        F.min_by(
            "value", F.struct(F.col("cnt").alias("c"), F.col("value").alias("v"))
        ).cast("long").alias("zminority"),
        F.count(F.lit(1)).cast("long").alias("zunique"),
    )
    sel = _moment_cols() + [((F.col("m1") + F.col("m2")) / 2.0).alias("zmedian")]
    for tag in pct_cols:
        sel.append(
            (F.col(f"_{tag}_lo")
             + F.col(f"_{tag}_frac") * (F.col(f"_{tag}_hi") - F.col(f"_{tag}_lo"))
             ).alias(tag)
        )
    sel += ["zmajority", "zminority", "zunique",
            (F.col("zmax") - F.col("zmin")).cast("long").alias("zrange")]
    return g.select(*sel)


def zonal_stats_custom(
    images: DataFrame,
    zones,
    origin: tuple[float, float],
    cellsize: tuple[float, float],
    mode: str = "center",
    add_stats: dict | None = None,
    name: str | None = None,
    max_zone_cells: int = 50_000_000,
) -> DataFrame:
    """The reference stats() EXTENSIBILITY surface
    (georasters.py:908-947): `add_stats` = {stat_name: ...} custom
    per-zone statistics plus the reference's name+'_'+stat column rule.

    Scale contract (the base moments NEVER materialize a whole zone in
    one task — they are zonal_stats' exact partial-aggregate plan; the
    extras fold the same fused core's hits):

    * ``stat: callable(v: np.ndarray) -> float`` — needs the zone's
      full value vector in ONE task (rasterstats semantics, e.g.
      np.percentile). Guarded by ``max_zone_cells``: the task RAISES
      past the cap instead of silently OOMing an executor. Use only
      when every zone is known to fit.
    * ``stat: (map_fn, reduce_fn)`` — partial-combinable: map_fn runs
      over each tile's hits in the zone (bounded by the tile size),
      reduce_fn folds the per-tile partials (one row per zone x tile
      — tiny). The unbounded-safe form for continent-sized zones.
    """
    add_stats = add_stats or {}
    out = zonal_stats(images, zones, origin, cellsize, mode=mode)
    whole = {k: f for k, f in add_stats.items() if not isinstance(f, tuple)}
    comb = {k: f for k, f in add_stats.items() if isinstance(f, tuple)}
    if whole:
        wschema = "zone_id long, " + ", ".join(f"{k} double" for k in whole)

        def per_zone(key, pdf: pd.DataFrame) -> pd.DataFrame:
            if len(pdf) > max_zone_cells:
                raise ValueError(
                    f"zone {int(key[0])} has {len(pdf)} cells > "
                    f"max_zone_cells={max_zone_cells}; use the "
                    "(map_fn, reduce_fn) combinable form for this stat"
                )
            v = pdf["value"].to_numpy(np.float64)
            rec = {"zone_id": int(key[0])}
            for k, fn in whole.items():
                rec[k] = float(fn(v))
            return pd.DataFrame([rec])

        hits = _zone_plan(images, zones, origin, cellsize, mode, _pixel_rows,
                          "zone_id long, value double")
        extra = hits.groupBy("zone_id").applyInPandas(per_zone, schema=wschema)
        out = out.join(extra, "zone_id", "left")
    if comb:
        keys = list(comb)
        pschema = "zone_id long, " + ", ".join(f"{k} double" for k in keys)

        def partials(hits):
            rows = [
                [zid] + [float(comb[k][0](v.astype(np.float64))) for k in keys]
                for zid, _, _, v in hits
            ]
            if rows:
                yield pd.DataFrame(rows, columns=["zone_id"] + keys)

        def reduce_zone(key, pdf: pd.DataFrame) -> pd.DataFrame:
            rec = {"zone_id": int(key[0])}
            for k in keys:
                rec[k] = float(comb[k][1](pdf[k].to_numpy(np.float64)))
            return pd.DataFrame([rec])

        part = _zone_plan(images, zones, origin, cellsize, mode, partials, pschema)
        extra2 = part.groupBy("zone_id").applyInPandas(reduce_zone, schema=pschema)
        out = out.join(extra2, "zone_id", "left")
    if name:
        for c in out.columns:
            if c != "zone_id":
                out = out.withColumnRenamed(c, f"{name}_{c}")
    return out


def rasterize(spark, zones, origin: tuple[float, float],
              cellsize: tuple[float, float], shape: tuple[int, int],
              burn: dict[int, float] | None = None,
              all_touched: bool = False) -> DataFrame:
    """gdal_rasterize role: burn polygon zones into a raster lattice.
    Emits one row per covered cell: (row, col, zone_id, value) — value
    from `burn[zone_id]` (default: the zone_id itself, gdal_rasterize's
    `-a` attribute form with the id attribute); cells outside every
    zone are absent (GDAL leaves them at init/nodata).

    Overlap rule: GDAL burns features sequentially so later features
    overwrite — here zone order IS zone_id order, so overlaps resolve
    by MAX zone_id (one aggregate; deterministic).

    Plan: the target lattice comes from two ranges (no data scan),
    centers are pure Columns, and the zone tag is the same broadcast
    per-zone hit test as clip/zonal (pip_join) — one mapInPandas over
    the lattice, one (row, col) aggregate for overlaps, one broadcast
    join for burn values."""
    h, w = shape
    x0, y0 = origin
    cx, cy = cellsize
    lattice = (
        spark.range(h).select(F.col("id").alias("row"))
        .crossJoin(spark.range(w).select(F.col("id").alias("col")))
        .select(
            "row", "col",
            (F.lit(x0) + (F.col("col") + F.lit(0.5)) * F.lit(cx)).alias("xc"),
            (F.lit(y0) + (F.col("row") + F.lit(0.5)) * F.lit(cy)).alias("yc"),
        )
    )
    tagged = pip_join(lattice, zones,
                      mode="all_touched" if all_touched else "center",
                      cellsize=cellsize)
    won = tagged.groupBy("row", "col").agg(F.max("zone_id").alias("zone_id"))
    if burn is None:
        return won.select("row", "col", "zone_id",
                          F.col("zone_id").cast("double").alias("value"))
    missing = {int(z.zone_id) for z in zones} - {int(z) for z in burn}
    if missing:
        raise ValueError(
            f"rasterize: burn map missing zone ids {sorted(missing)} — "
            "cells won by an unmapped zone would silently vanish")
    bdf = spark.createDataFrame(
        [(int(z), float(v)) for z, v in burn.items()],
        "zone_id long, value double")
    return won.join(F.broadcast(bdf), "zone_id").select(
        "row", "col", "zone_id", "value")
