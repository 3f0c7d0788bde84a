"""Spatial joins: point-in-polygon, zonal statistics, clip.

Re-realizes the reference's clip/stats (rasterstats zonal_stats with
all_touched=True, georasters.py:870-947) as Spark joins:

  1. **tile pruning** — tiles whose bbox misses every zone bbox are
     dropped *before* decode (the Iceberg min/max file-skipping analog;
     reference analog: rasterstats window-crops to the polygon bbox).
  2. **PIP kernel** — zones are broadcast (small side); an Arrow
     mapInPandas batch evaluates every zone's ray-casting /
     all_touched test in numpy → one output row per (pixel, zone) hit.
  3. **aggregation** — groupBy(zone_id) hash aggregate; map-side
     partial agg is automatic. For skewed zones (a continent-sized
     polygon) an explicit two-phase salted aggregate is provided:
     partial per (zone_id, salt), final per zone_id — plus AQE skew
     handling as backstop (north rule: explicit salting).

At 100 TB the zone table stays broadcastable (thousands of polygons);
the only shuffle is the zone-keyed aggregate, whose input is already
reduced to per-(zone, salt) partials map-side.
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


def pip_join(
    pixel_df: DataFrame,
    zones,
    mode: str = "center",
    cellsize: tuple[float, float] | None = None,
    keep: list[str] | None = None,
) -> DataFrame:
    """(pixel rows with xc, yc) x zones -> one row per (pixel, zone) hit.

    mode='center': cell-center even-odd PIP (exact SQL oracle exists for
    convex zones). mode='all_touched': rasterstats all_touched=True
    semantics (georasters.py:884-886).
    """
    zlist = [
        (
            int(z.zone_id),
            [np.asarray(r, dtype=np.float64) for r in z.rings],
            geom.rings_bbox(z.rings),
        )
        for z in zones
    ]
    if mode == "all_touched" and cellsize is None:
        raise ValueError("all_touched needs cellsize=(cellx, celly)")
    cx, cy = cellsize if cellsize else (0.0, 0.0)
    # bbox pad so the all_touched test still sees cells whose rectangle
    # (not center) reaches the polygon
    padx, pady = (abs(cx), abs(cy)) if mode == "all_touched" else (0.0, 0.0)

    from pyspark.sql import types as T

    # `keep` prunes the opaque kernel's OUTPUT: columns the caller will
    # drop anyway (e.g. the xc/yc the test itself consumes) would
    # otherwise ride the Arrow return for nothing
    fields = keep if keep is not None else [f.name for f in pixel_df.schema.fields]
    out_schema = T.StructType(
        [pixel_df.schema[f] for f in fields]
        + [T.StructField("zone_id", T.LongType())]
    )

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            xs = pdf["xc"].to_numpy(dtype=np.float64)
            ys = pdf["yc"].to_numpy(dtype=np.float64)
            outs = []
            for zid, rings, (bx0, by0, bx1, by1) in zlist:
                # cheap bbox prefilter: ray-cast only candidate cells
                cand = (
                    (xs >= bx0 - padx)
                    & (xs <= bx1 + padx)
                    & (ys >= by0 - pady)
                    & (ys <= by1 + pady)
                )
                if not cand.any():
                    continue
                if mode == "center":
                    sub_hit = geom.points_in_rings(xs[cand], ys[cand], rings)
                else:
                    sub_hit = geom.cells_touched(xs[cand], ys[cand], cx, cy, rings)
                hit = np.zeros(len(pdf), dtype=bool)
                hit[np.flatnonzero(cand)[sub_hit]] = True
                if hit.any():
                    sub = pdf.loc[hit, fields].copy()
                    sub["zone_id"] = zid
                    outs.append(sub)
            if outs:
                yield pd.concat(outs)

    return pixel_df.mapInPandas(kernel, schema=out_schema)


def _iter_zone_hits(batches, zlist, x0, y0, cx, cy, mode, padx, pady):
    """Shared fused decode+PIP core: iterate Arrow batches of tile rows,
    decode each tile once, and yield (zone_id, int64 value array of that
    tile's hits in the zone).  Both fused partial kernels (moments and
    value-counts) consume this, so their hit sets are identical by
    construction."""
    from ..sources import codec

    for pdf in batches:
        for t in pdf.itertuples(index=False):
            arr = codec.decode_tile(
                bytes(t.bytes), t.fmt, int(t.w), int(t.h), float(t.ndv)
            ).astype(np.float64)
            h, w = arr.shape
            gr = (int(t.tile_row) * h + np.arange(h, dtype=np.int64))[:, None]
            gc = (int(t.tile_col) * w + np.arange(w, dtype=np.int64))[None, :]
            valid = arr != float(t.ndv)
            xc = x0 + (np.broadcast_to(gc, (h, w))[valid] + 0.5) * cx
            yc = y0 + (np.broadcast_to(gr, (h, w))[valid] + 0.5) * cy
            vals = arr[valid].astype(np.int64)
            for zid, rings, (bx0, by0, bx1, by1) in zlist:
                cand = (
                    (xc >= bx0 - padx) & (xc <= bx1 + padx)
                    & (yc >= by0 - pady) & (yc <= by1 + pady)
                )
                if not cand.any():
                    continue
                if mode == "center":
                    hit = geom.points_in_rings(xc[cand], yc[cand], rings)
                else:
                    hit = geom.cells_touched(xc[cand], yc[cand], cx, cy, rings)
                if not hit.any():
                    continue
                yield zid, vals[cand][hit]


def zonal_stats_fused(
    images: DataFrame,
    zones,
    origin: tuple[float, float],
    cellsize: tuple[float, float],
    mode: str = "center",
) -> DataFrame:
    """Fused zonal statistics: decode + PIP + *partial aggregation* in a
    single Arrow stage. Each task emits at most (#zones) partial rows
    (count/sum/sum2/min/max as exact int64), so the shuffle moves
    O(zones × partitions) rows no matter how many pixels a zone covers
    — per-partition partials make hot zones a non-issue by
    construction (stronger than key salting; the explicit salted path
    remains in zonal_stats for the unfused pipeline). Results are
    bit-identical to zonal_stats: same integer partials, same final
    double expressions.
    """
    import pandas as pd

    zlist = [
        (int(z.zone_id), [np.asarray(r, dtype=np.float64) for r in z.rings],
         geom.rings_bbox(z.rings))
        for z in zones
    ]
    x0, y0 = origin
    cx, cy = cellsize
    padx, pady = (abs(cx), abs(cy)) if mode == "all_touched" else (0.0, 0.0)
    pruned = prune_tiles(images, zones)

    def kernel(batches):
        acc: dict[int, list] = {}
        for zid, v in _iter_zone_hits(
                batches, zlist, x0, y0, cx, cy, mode, padx, pady):
            a = acc.setdefault(zid, [0, 0, 0, None, None])
            a[0] += int(v.size)
            a[1] += int(v.sum())
            a[2] += int((v * v).sum())
            a[3] = int(v.min()) if a[3] is None else min(a[3], int(v.min()))
            a[4] = int(v.max()) if a[4] is None else max(a[4], int(v.max()))
        rows = [
            {"zone_id": z, "c": a[0], "s": a[1], "s2": a[2], "mn": a[3], "mx": a[4]}
            for z, a in acc.items()
        ]
        yield pd.DataFrame(
            rows,
            columns=["zone_id", "c", "s", "s2", "mn", "mx"],
        ) if rows else pd.DataFrame(
            {"zone_id": pd.Series(dtype=np.int64), "c": pd.Series(dtype=np.int64),
             "s": pd.Series(dtype=np.int64), "s2": pd.Series(dtype=np.int64),
             "mn": pd.Series(dtype=np.int64), "mx": pd.Series(dtype=np.int64)}
        )

    cols = ["bytes", "fmt", "w", "h", "ndv", "tile_row", "tile_col"]
    partials = pruned.select(*cols).mapInPandas(
        kernel, schema="zone_id long, c long, s long, s2 long, mn long, mx long"
    )
    agg = partials.groupBy("zone_id").agg(
        F.sum("c").alias("zcount"),
        F.sum("s").alias("zsum"),
        F.sum("s2").alias("zsum2"),
        F.min("mn").alias("zmin"),
        F.max("mx").alias("zmax"),
    )
    return _finalize_zonal(agg)


def _fused_value_counts(
    images: DataFrame,
    zones,
    origin: tuple[float, float],
    cellsize: tuple[float, float],
    mode: str = "center",
) -> DataFrame:
    """Per-(zone, value) hit counts from ONE fused decode+PIP pass
    (same _iter_zone_hits core as zonal_stats_fused).  Each task emits
    at most (#zones x value-domain) partial rows — bounded by the value
    DOMAIN, not pixel counts — so every extended zonal stat (moments,
    median, majority, percentiles) can be derived from this one table
    without a second decode or a per-pixel shuffle."""
    import pandas as pd

    zlist = [
        (int(z.zone_id), [np.asarray(r, dtype=np.float64) for r in z.rings],
         geom.rings_bbox(z.rings))
        for z in zones
    ]
    x0, y0 = origin
    cx, cy = cellsize
    padx, pady = (abs(cx), abs(cy)) if mode == "all_touched" else (0.0, 0.0)
    pruned = prune_tiles(images, zones)

    def kernel(batches):
        acc: dict[tuple[int, int], int] = {}
        for zid, v in _iter_zone_hits(
                batches, zlist, x0, y0, cx, cy, mode, padx, pady):
            u, c = np.unique(v, return_counts=True)
            if u.dtype.kind == "f" and not np.all(u == np.trunc(u)):
                raise ValueError(
                    "zonal count-table plan requires integer values "
                    "(the int64 count table would silently truncate "
                    "fractional data); round/scale the raster first")
            for val, cnt in zip(u.tolist(), c.tolist()):
                key = (zid, val)
                acc[key] = acc.get(key, 0) + cnt
        if acc:
            ks = list(acc)
            yield pd.DataFrame({
                "zone_id": np.array([k[0] for k in ks], dtype=np.int64),
                "value": np.array([k[1] for k in ks], dtype=np.int64),
                "cnt": np.array([acc[k] for k in ks], dtype=np.int64),
            })
        else:
            yield pd.DataFrame(
                {"zone_id": pd.Series(dtype=np.int64),
                 "value": pd.Series(dtype=np.int64),
                 "cnt": pd.Series(dtype=np.int64)})

    cols = ["bytes", "fmt", "w", "h", "ndv", "tile_row", "tile_col"]
    partials = pruned.select(*cols).mapInPandas(
        kernel, schema="zone_id long, value long, cnt long"
    )
    return partials.groupBy("zone_id", "value").agg(
        F.sum("cnt").alias("cnt"))


def _finalize_zonal(agg: DataFrame) -> DataFrame:
    return (
        agg.withColumn("zmean", F.round(F.col("zsum") / F.col("zcount"), 6))
        .withColumn(
            "zstd",
            F.round(
                F.sqrt(
                    F.col("zsum2") / F.col("zcount")
                    - (F.col("zsum") / F.col("zcount")) * (F.col("zsum") / F.col("zcount"))
                ),
                6,
            ),
        )
        .select(
            "zone_id",
            F.col("zcount").cast("long").alias("zcount"),
            F.col("zsum").cast("long").alias("zsum"),
            F.col("zmin").cast("long").alias("zmin"),
            F.col("zmax").cast("long").alias("zmax"),
            "zmean",
            "zstd",
        )
    )


def zonal_stats(
    images: DataFrame,
    zones,
    origin: tuple[float, float],
    cellsize: tuple[float, float],
    mode: str = "center",
    salt: int | None = None,
) -> DataFrame:
    """Per-zone stats of valid pixels: the reference stats() surface
    (mean/min/max/count/sum/std, georasters.py:908-947). Exact integer
    sums; derived moments computed from them (deterministic for the
    DuckDB oracle). Output columns:
      zone_id, zcount, zsum, zmin, zmax, zmean, zstd
    """
    pruned = prune_tiles(images, zones)
    px = PX.pixel_table(
        pruned,
        valid_only=True,
        origin=origin,
        cellsize=cellsize,
        bboxes=[geom.rings_bbox(z.rings) for z in zones],
    )
    # pass only what the PIP kernel and the aggregate consume: the
    # corner coords (x, y) would otherwise ride through both Arrow
    # crossings of the opaque kernel (16 dead bytes/row), and xc/yc
    # only need to cross INTO it.  The salted path's bucket key is
    # computed in the JVM BEFORE the kernel (one long instead of the
    # image_id string + row + col through both Arrow crossings); any
    # deterministic spread key works — the two-phase aggregate's exact
    # integer partials make the result salt-key-invariant.  The key
    # assumes one pixel per (row, col): overlapping images in one pixel
    # table would hash their shared cells to the same bucket, weakening
    # the skew spread (never the result).
    if salt:
        px = px.select(
            "value", "xc", "yc",
            F.pmod(F.xxhash64("row", "col"), F.lit(salt)).alias("_salt"))
        hits = pip_join(px, zones, mode=mode, cellsize=cellsize,
                        keep=["value", "_salt"])
    else:
        px = px.select("value", "xc", "yc")
        hits = pip_join(px, zones, mode=mode, cellsize=cellsize,
                        keep=["value"])
    v = F.col("value")
    if salt:
        # explicit two-phase salted aggregate for skewed zones
        partial = hits.groupBy("zone_id", "_salt").agg(
            F.count(v).alias("c"),
            F.sum(v).alias("s"),
            F.sum(v * v).alias("s2"),
            F.min(v).alias("mn"),
            F.max(v).alias("mx"),
        )
        agg = partial.groupBy("zone_id").agg(
            F.sum("c").alias("zcount"),
            F.sum("s").alias("zsum"),
            F.sum("s2").alias("zsum2"),
            F.min("mn").alias("zmin"),
            F.max("mx").alias("zmax"),
        )
    else:
        agg = hits.groupBy("zone_id").agg(
            F.count(v).alias("zcount"),
            F.sum(v).alias("zsum"),
            F.sum(v * v).alias("zsum2"),
            F.min(v).alias("zmin"),
            F.max(v).alias("zmax"),
        )
    return _finalize_zonal(agg)


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
    """Per-zone sub-rasters (reference clip, georasters.py:870-906):
    PIP join then re-assemble mini-tiles in ONE grouped-map stage keyed
    by (zone_id, tile block) — the plan is O(1) in the number of zones
    (no per-zone branch/union loop, which would explode the driver plan
    at 10^4 polygons). Returns images-schema rows + zone_id, image_id
    prefixed by the zone id.  fmt/dtype set the output tile encoding —
    pass float64/rawf64 for non-integer input (frame facade does)."""
    import pandas as pd

    from ..sources.synth import IMAGES_SCHEMA

    pruned = prune_tiles(images, zones)
    px = PX.pixel_table(pruned, valid_only=True, origin=origin, cellsize=cellsize)
    hits = pip_join(px, zones, mode=mode, cellsize=cellsize)
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
    base_plan: str = "fused",
    percentiles: list[float] | None = None,
) -> DataFrame:
    """zonal_stats + exact ``zmedian`` and ``zmajority`` — plus
    ``zp<q>`` columns for each q in `percentiles` — the remaining
    rasterstats built-in stat names (median/majority/percentile_XX,
    georasters.py:908-947). Percentiles use numpy's default linear
    interpolation (rank = (n−1)·q/100, v = v_lo + frac·(v_hi − v_lo)),
    computed exactly from the value-count order statistics.

    Scale design: both extras are computed from the per-(zone, value)
    COUNT table, never from a whole-zone value vector. For integer
    rasters that table is bounded by the value DOMAIN per zone (e.g.
    2000 rows here), not the zone's pixel count, so a continent-sized
    zone costs the same as a small one:

    * median — zone-partitioned running sum over the counts (ordered by
      value), then the k1/k2 middle elements via MIN(CASE); exact,
      including the even-count two-middle average.
    * majority — max_by(value, (cnt, -value)): most frequent value,
      ties broken by the SMALLEST value (rasterstats keeps an arbitrary
      mode; we pin a deterministic rule).

    base_plan='fused' (the headline plan) derives EVERYTHING — base
    moments included — from one fused decode+PIP pass emitting the
    (zone, value) count table (zsum = Σ v·cnt, zsum2 = Σ v²·cnt stay
    exact BIGINTs); 'agg' shares per-pixel decoded hits with the extras
    (one decode, two shuffles over pixel rows).
    """
    from pyspark.sql import Window as W

    if base_plan == "fused":
        # ONE fused decode+PIP pass: the (zone, value) count table is
        # sufficient for base moments AND every extra — no pixel-row
        # shuffle, no second decode (pre-r6 the fused branch ran the
        # decode+PIP twice: once inside zonal_stats_fused, once through
        # pixel_table+pip_join just to build vc)
        vc = _fused_value_counts(images, zones, origin, cellsize, mode=mode)
    else:
        pruned = prune_tiles(images, zones)
        px = PX.pixel_table(
            pruned, valid_only=True, origin=origin, cellsize=cellsize,
            bboxes=[geom.rings_bbox(z.rings) for z in zones],
        )
        hits = pip_join(px.select("value", "xc", "yc"), zones, mode=mode,
                        cellsize=cellsize, keep=["value"])
        vc = hits.groupBy("zone_id", "value").agg(F.count(F.lit(1)).alias("cnt"))
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
    mean = F.col("zsum") / F.col("zcount")
    sel = [
        "zone_id",
        F.col("zcount").cast("long").alias("zcount"),
        F.col("zsum").cast("long").alias("zsum"),
        F.col("zmin").cast("long").alias("zmin"),
        F.col("zmax").cast("long").alias("zmax"),
        F.round(mean, 6).alias("zmean"),
        F.round(F.sqrt(F.col("zsum2") / F.col("zcount") - mean * mean), 6).alias("zstd"),
        ((F.col("m1") + F.col("m2")) / 2.0).alias("zmedian"),
    ]
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
    one task — they always come from the same exact partial-aggregate
    plan as zonal_stats):

    * ``stat: callable(v: np.ndarray) -> float`` — needs the zone's
      full value vector in ONE task (rasterstats semantics, e.g.
      np.percentile). Guarded by ``max_zone_cells``: the task RAISES
      past the cap instead of silently OOMing an executor. Use only
      when every zone is known to fit.
    * ``stat: (map_fn, reduce_fn)`` — partial-combinable: map_fn runs
      over each Arrow batch's slice of the zone (bounded memory),
      reduce_fn folds the per-batch partials (one row per zone x batch
      — tiny). The unbounded-safe form for continent-sized zones.
    """
    import pandas as pd

    add_stats = add_stats or {}
    base = zonal_stats(images, zones, origin, cellsize, mode=mode)
    if not add_stats:
        out = base
    else:
        pruned = prune_tiles(images, zones)
        px = PX.pixel_table(
            pruned, valid_only=True, origin=origin, cellsize=cellsize,
            bboxes=[geom.rings_bbox(z.rings) for z in zones],
        )
        hits = pip_join(px.select("value", "xc", "yc"), zones, mode=mode,
                        cellsize=cellsize, keep=["value"])
        whole = {k: f for k, f in add_stats.items() if not isinstance(f, tuple)}
        comb = {k: f for k, f in add_stats.items() if isinstance(f, tuple)}
        out = base
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

            extra = hits.groupBy("zone_id").applyInPandas(per_zone, schema=wschema)
            out = out.join(extra, "zone_id", "left")
        if comb:
            keys = list(comb)
            pschema = "zone_id long, " + ", ".join(f"{k} double" for k in keys)

            def partials(batches):
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    rows = []
                    for zid, g in pdf.groupby("zone_id"):
                        v = g["value"].to_numpy(np.float64)
                        rec = {"zone_id": int(zid)}
                        for k in keys:
                            rec[k] = float(comb[k][0](v))
                        rows.append(rec)
                    yield pd.DataFrame(rows, columns=["zone_id"] + keys)

            def reduce_zone(key, pdf: pd.DataFrame) -> pd.DataFrame:
                rec = {"zone_id": int(key[0])}
                for k in keys:
                    rec[k] = float(comb[k][1](pdf[k].to_numpy(np.float64)))
                return pd.DataFrame([rec])

            part = hits.mapInPandas(partials, schema=pschema)
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
    even-odd-PIP kernel as clip/zonal (pip_join) — one mapInPandas over
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
