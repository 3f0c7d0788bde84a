"""raster <-> vector: the tile-decode/explode and tile-assembly operators.

* ``pixel_table``  — images table -> tall pixel DataFrame
  (image_id, row, col, value [, x, y, xc, yc]). Re-realizes
  to_pandas (georasters.py:1702-1714) but genuinely per-pixel
  (see SURVEY.md §1.4.8). The mask becomes SQL NULL / row-dropping:
  value == ndv cells are filtered out (georasters.py:329-333).
* ``assemble_tiles`` — pixel DataFrame -> images table rows; inverse
  operator (from_pandas, georasters.py:1569-1599): missing cells
  become ndv.

Both are Arrow-vectorized (mapInPandas / applyInPandas); Python loops
run per *tile*, all per-pixel work is numpy. Coordinate columns are
added JVM-side as Column expressions so their double math is
bit-identical to the SQL oracle's.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import grid as G
from ..sources import codec

PIXEL_SCHEMA = "image_id string, row long, col long, value double"


def default_ndv(dtype: str) -> float:
    """Reference rule for files without a nodata value
    (georasters.py:1553-1562): ndv = np.ma.default_fill_value(data) and
    NOTHING is masked. 999999 for integer dtypes, 1e20 for floats."""
    return float(np.ma.default_fill_value(np.zeros(1, dtype=np.dtype(dtype))))


def decode_cells(t, valid_only: bool = True):
    """Decode one images-table row (a tuple with bytes, fmt, w, h, ndv,
    tile_row, tile_col [, dtype]) into its cells: global rows, global
    cols and values in the decode's own dtype (int16 for raw16/png),
    row-major.  ``valid_only`` drops value == ndv cells, compared in
    float64.  A row without a nodata value (ndv NaN) follows the
    reference from_file rule (georasters.py:1553-1562): decode with the
    numpy default fill and mask NOTHING."""
    ndv = float(t.ndv)
    no_ndv = np.isnan(ndv)
    if no_ndv:
        ndv = default_ndv(getattr(t, "dtype", "int16"))
    arr = codec.decode_tile(bytes(t.bytes), t.fmt, int(t.w), int(t.h), ndv)
    h, w = arr.shape
    if valid_only and not no_ndv:
        keep = arr.astype(np.float64, copy=False) != ndv
        r, c = np.nonzero(keep)
        val = arr[keep]
    else:
        r, c = np.divmod(np.arange(h * w, dtype=np.int64), w)
        val = arr.ravel()
    return int(t.tile_row) * h + r, int(t.tile_col) * w + c, val


def tile_columns(images: DataFrame) -> list[str]:
    """The images-table columns decode_cells reads."""
    cols = ["bytes", "fmt", "w", "h", "ndv", "tile_row", "tile_col"]
    if "dtype" in images.columns:
        cols.append("dtype")  # needed for the no-ndv default-fill rule
    return cols


def pixel_table(
    images: DataFrame,
    valid_only: bool = True,
    origin: tuple[float, float] | None = None,
    cellsize: tuple[float, float] | None = None,
    with_coords: bool = True,
) -> DataFrame:
    """Decode + explode the images table into a pixel DataFrame.

    Global (row, col) = (tile_row*h + i, tile_col*w + j). When
    ``origin``/``cellsize`` are given, adds corner coords (x, y) and
    center coords (xc, yc) as JVM Column expressions.
    """

    def explode(batches):
        for pdf in batches:
            outs = []
            for t in pdf.itertuples(index=False):
                gr, gc, val = decode_cells(t, valid_only)
                outs.append(
                    pd.DataFrame(
                        {
                            "image_id": t.image_id,
                            "row": gr,
                            "col": gc,
                            "value": val.astype(np.float64),
                        }
                    )
                )
            yield pd.concat(outs) if outs else pd.DataFrame(
                {"image_id": pd.Series(dtype=object),
                 "row": pd.Series(dtype=np.int64),
                 "col": pd.Series(dtype=np.int64),
                 "value": pd.Series(dtype=np.float64)}
            )

    cols = ["image_id"] + tile_columns(images)
    px = images.select(*cols).mapInPandas(explode, schema=PIXEL_SCHEMA)
    if with_coords and origin is not None and cellsize is not None:
        x0, y0 = origin
        cx, cy = cellsize
        px = (
            px.withColumn("x", G.x_of_col(F.col("col"), x0, cx))
            .withColumn("y", G.y_of_row(F.col("row"), y0, cy))
            .withColumn("xc", G.x_center_of_col(F.col("col"), x0, cx))
            .withColumn("yc", G.y_center_of_row(F.col("row"), y0, cy))
        )
    return px


def infer_grid_from_points(df: DataFrame, x_col: str = "x", y_col: str = "y") -> dict:
    """from_pandas grid inference with the reference's quirks
    (georasters.py:1569-1599, SURVEY §1.4.9):
      * cell size = MAX gap between consecutive sorted unique coords
        (not min/mode) — georasters.py:1582-1585;
      * origin = (min x, max y); grid reindexed to 0..max(row/col), so
        missing cells become ndv.
    Returns {'xmin','ymax','cellx','celly','nrows','ncols'} computed
    distributed: range-partitioned per-partition max gaps over sorted
    distinct coords + cross-partition boundary gaps combined from the
    tiny (one row per partition) partials — the same two-phase pattern
    as gini/map_vector; no unpartitioned Window (which would funnel
    every distinct coordinate through ONE task at scale)."""
    import pandas as pd
    from pyspark import TaskContext

    def max_gap(col):
        d = (
            df.select(F.col(col).cast("double").alias("v"))
            .distinct()
            .repartitionByRange(32, "v")
            .sortWithinPartitions("v")
        )

        def partials(batches):
            pid = TaskContext.get().partitionId()
            lo = hi = None
            mx = 0.0
            prev = None
            for pdf in batches:
                v = pdf["v"].to_numpy()
                if len(v) == 0:
                    continue
                if prev is not None:
                    mx = max(mx, float(v[0] - prev))
                if len(v) > 1:
                    mx = max(mx, float(np.diff(v).max()))
                lo = float(v[0]) if lo is None else lo
                hi = float(v[-1])
                prev = v[-1]
            if lo is None:
                return
            yield pd.DataFrame({"pid": [pid], "lo": [lo], "hi": [hi], "mx": [mx]})

        rows = sorted(
            d.mapInPandas(partials, schema="pid int, lo double, hi double, mx double")
            .collect(),
            key=lambda r: r.pid,
        )
        if not rows:
            return 1.0, 0.0, 0.0
        mx = max(r.mx for r in rows)
        for a, b in zip(rows, rows[1:]):  # cross-partition boundary gaps
            mx = max(mx, b.lo - a.hi)
        return (mx if mx > 0 else 1.0), rows[0].lo, rows[-1].hi

    cx, xlo, xhi = max_gap(x_col)
    cy, ylo, yhi = max_gap(y_col)
    return {
        "xmin": xlo,
        "ymax": yhi,
        "cellx": cx,
        "celly": -cy,
        "ncols": int(round((xhi - xlo) / cx)) + 1,
        "nrows": int(round((yhi - ylo) / cy)) + 1,
    }


def lookup_points_fused(
    images: DataFrame,
    points: DataFrame,
    origin: tuple[float, float],
    cellsize: tuple[float, float],
    tile: int = 64,
) -> DataFrame:
    """Fused map_pixel: the point batch is broadcast as per-tile index
    arrays; one decode pass gathers all hits in numpy — no pixel-table
    materialization, no shuffle (for point batches that fit in a
    broadcast). `tile` must be the table's tile edge: a decoded tile
    of another w/h raises."""
    import numpy as np

    from ..functions import grid as G

    x0, y0 = origin
    cx, cy = cellsize

    pts_pdf = points.select("point_id", "x", "y").toPandas()
    prow = np.round((pts_pdf["y"].to_numpy() - y0) / cy).astype(np.int64)
    pcol = np.round((pts_pdf["x"].to_numpy() - x0) / cx).astype(np.int64)
    pid = pts_pdf["point_id"].to_numpy(np.int64)
    by_tile: dict[tuple[int, int], tuple] = {}
    for i in range(len(pid)):
        key = (int(prow[i] // tile), int(pcol[i] // tile))
        by_tile.setdefault(key, ([], [], []))
        by_tile[key][0].append(int(pid[i]))
        by_tile[key][1].append(int(prow[i] % tile))
        by_tile[key][2].append(int(pcol[i] % tile))
    bt = {k: (np.array(a), np.array(b), np.array(c)) for k, (a, b, c) in by_tile.items()}
    spark = images.sparkSession
    bc = spark.sparkContext.broadcast(bt)

    keys_df = spark.createDataFrame(
        [(k[0], k[1]) for k in bt] or [(-1, -1)], "tile_row int, tile_col int"
    )
    pruned = images.join(F.broadcast(keys_df), ["tile_row", "tile_col"], "left_semi")

    def kernel(batches):
        for pdf in batches:
            out_pid, out_val = [], []
            for t in pdf.itertuples(index=False):
                key = (int(t.tile_row), int(t.tile_col))
                hit = bc.value.get(key)
                if hit is None:
                    continue
                ids, lr, lc = hit
                # the point index above was cut at `tile`; a table of
                # another tile edge would gather the wrong cells
                if int(t.w) != tile or int(t.h) != tile:
                    raise ValueError(
                        f"lookup_points_fused: tile={tile} but tile "
                        f"({key[0]}, {key[1]}) is {int(t.w)}x{int(t.h)}; "
                        "pass the table's tile edge")
                arr = codec.decode_tile(
                    bytes(t.bytes), t.fmt, int(t.w), int(t.h), float(t.ndv)
                ).astype(np.float64)
                vals = arr[lr, lc]
                ok = vals != float(t.ndv)
                out_pid.extend(ids[ok].tolist())
                out_val.extend(vals[ok].tolist())
            yield pd.DataFrame({"point_id": pd.Series(out_pid, dtype=np.int64),
                                "value": pd.Series(out_val, dtype=np.float64)})

    found = pruned.select("bytes", "fmt", "w", "h", "ndv", "tile_row", "tile_col").mapInPandas(
        kernel, schema="point_id long, value double"
    )
    pts = points.withColumn("prow", G.row_of_y(F.col("y"), y0, cy)).withColumn(
        "pcol", G.col_of_x(F.col("x"), x0, cx)
    )
    return pts.join(found, "point_id", "left")


def assemble_tiles(
    pixels: DataFrame,
    grid_id: str,
    origin: tuple[float, float],
    cellsize: tuple[float, float],
    tile: int = 64,
    ndv: float = -9999.0,
    fmt: str = "raw16",
    dtype: str = "int16",
    crs: str = "EPSG:4326",
    cell_res: int = 3,
    value_col: str = "value",
) -> DataFrame:
    """Inverse of pixel_table: (row, col, value) -> encoded tile rows.

    One shuffle keyed by (tile_row, tile_col); each group assembles its
    tile array in numpy, missing cells filled with ndv
    (from_pandas reindex semantics, georasters.py:1590-1592).
    """
    from ..functions import cells as C
    from ..sources.synth import IMAGES_SCHEMA

    x0, y0 = origin
    cx, cy = cellsize

    # floor division (NOT cast-truncation): negative coordinates must
    # key into the correct negative tile, never wrap into tile 0
    keyed = pixels.withColumn("tile_row", F.floor(F.col("row") / tile).cast("int")).withColumn(
        "tile_col", F.floor(F.col("col") / tile).cast("int")
    )

    def build(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ty, tx = int(key[0]), int(key[1])
        return pd.DataFrame(
            [
                build_tile_record(
                    pdf, ty, tx, grid_id, origin, cellsize, tile, ndv, fmt,
                    dtype, crs, cell_res, value_col,
                )
            ]
        )

    return keyed.groupBy("tile_row", "tile_col").applyInPandas(
        build, schema=IMAGES_SCHEMA
    )


def build_tile_record(
    pdf: pd.DataFrame,
    ty: int,
    tx: int,
    grid_id: str,
    origin: tuple[float, float],
    cellsize: tuple[float, float],
    tile: int,
    ndv: float,
    fmt: str,
    dtype: str,
    crs: str,
    cell_res: int,
    value_col: str = "value",
) -> dict:
    """One encoded images-table row from a group of (row, col, value)
    pixels belonging to tile block (ty, tx) — shared by assemble_tiles
    and the single-pass clip (spatial_join.clip)."""
    from ..functions import cells as C

    x0, y0 = origin
    cx, cy = cellsize
    arr = np.full((tile, tile), ndv, dtype=np.float64)
    lr = pdf["row"].to_numpy(dtype=np.int64) - ty * tile
    lc = pdf["col"].to_numpy(dtype=np.int64) - tx * tile
    arr[lr, lc] = pdf[value_col].to_numpy(dtype=np.float64)
    if dtype == "int16":
        enc = arr.astype(np.int16)
    elif dtype == "float64":
        enc = arr  # already float64 — lossless
    else:
        enc = arr.astype(np.float32)
    xmin = x0 + tx * tile * cx
    ymax = y0 + ty * tile * cy
    valid = enc != ndv
    checksum = int(np.asarray(enc, dtype=np.int64)[valid].sum()) if dtype == "int16" else int(enc[valid].sum())
    if dtype == "int16":
        efmt = fmt
    elif dtype == "float64":
        efmt = "rawf64"
    else:
        efmt = "rawf32" if fmt == "raw16" else fmt
    return {
        "image_id": f"{grid_id}_{ty:04d}_{tx:04d}",
        "bytes": codec.encode_tile(enc, efmt, ndv),
        "w": tile,
        "h": tile,
        "fmt": efmt,
        "caption": f"{grid_id} tile r{ty} c{tx} sum={checksum}",
        "phash": codec.average_hash(enc, ndv),
        "tile_row": ty,
        "tile_col": tx,
        "xmin": xmin,
        "ymax": ymax,
        "cellx": cx,
        "celly": cy,
        "crs": crs,
        "ndv": float(ndv),
        "dtype": dtype,
        "cell_id": int(C.cell_of(xmin + tile * cx / 2, ymax + tile * cy / 2, cell_res)),
    }


def build_overviews(
    images: DataFrame,
    origin: tuple[float, float],
    cellsize: tuple[float, float],
    levels: tuple[int, ...] = (2, 4, 8),
    tile: int = 64,
    ndv: float = -9999.0,
    grid_id: str = "ovr",
    how: str = "mean",
) -> dict[int, DataFrame]:
    """COG-style overview pyramid: per level L, the base grid block-
    reduced L×L (valid-cell mean, HALF_EVEN-rounded back to the int16
    tile dtype — or min/max), re-assembled into ordinary tile rows at
    the scaled georeference. Pure composition: decode (pixel_table) →
    one block aggregate per level → assemble_tiles; every level is an
    independent lazy plan over the SAME decoded scan, so a cluster can
    materialize all levels in one pass with a persisted pixel table.

    Returns {level: images-schema DataFrame}. Serving pyramids are the
    piece that makes 10^12-tile rasters browsable (each level is ~1/L²
    of the one below, so the whole pyramid costs ~4/3 of the base)."""
    from pyspark.sql import functions as F

    x0, y0 = origin
    cx, cy = cellsize
    px = pixel_table(images, valid_only=True, with_coords=False).select(
        "row", "col", "value"
    )
    out: dict[int, DataFrame] = {}
    for lv in levels:
        grouped = px.groupBy(
            (F.col("row") - F.pmod("row", lv)).alias("_r0"),
            (F.col("col") - F.pmod("col", lv)).alias("_c0"),
        )
        if how == "mean":
            agg = grouped.agg(
                # HALF_EVEN back to the integer dtype (bround == the
                # reference's np.round rule for map_pixel)
                F.bround(F.sum("value") / F.count("value"), 0).cast("long").alias("value")
            )
        elif how in ("min", "max"):
            agg = grouped.agg(getattr(F, how)("value").cast("long").alias("value"))
        else:
            raise ValueError("how must be mean|min|max")
        lvl_px = agg.select(
            (F.col("_r0") / lv).cast("long").alias("row"),
            (F.col("_c0") / lv).cast("long").alias("col"),
            "value",
        )
        out[lv] = assemble_tiles(
            lvl_px, f"{grid_id}_L{lv}", origin=(x0, y0),
            cellsize=(cx * lv, cy * lv), tile=tile, ndv=ndv,
        )
    return out
