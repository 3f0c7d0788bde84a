"""GeoRasterFrame — the reference's user-facing API, Spark-native.

A thin facade with the same method names and call shapes as the
reference ``georasters.GeoRaster`` class (georasters.py:304-1491) plus
its module-level constructors, so a user of the reference can switch
and keep their call sites.  Every method DELEGATES to the engine's
gated operators — the facade adds no semantics of its own, only the
object-style surface:

    gr = GeoRasterFrame.from_images(images, origin, cellsize, shape)
    (gr + other).mean()
    gr.clip(zones)              # per-zone sub-raster tiles table
    gr.stats(zones)             # rasterstats-shaped zonal stats
    gr.reproject("EPSG:6933")   # any gated CRS / resampling mode
    gr.pysal_Moran(permutations=999, seed=7)

Two deliberate divergences from the reference, both documented where
they apply:

* aggregations (``mean``/``std``/…) return driver-side Python scalars
  (the reference returns numpy scalars) computed by distributed
  aggregates — never by collecting pixels;
* ``apply`` takes a Column function (elementwise, stays JVM-side) or a
  numpy stencil via ``focal_apply`` — the reference's whole-array
  callables (georasters.py:978-988) cannot exist at 10^12 pixels.

Scalar lattice state is (xmin, ymax, cellx, celly, shape, ndv, crs) —
the GDAL geotransform tuple the reference carries (georasters.py:317).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions import grid as G


def _round_half_even(x: float) -> int:
    """numpy-style banker's rounding for a driver-side scalar —
    Python's builtin round() is already half-even on floats."""
    return int(round(x))


class GeoRasterFrame:
    """Distributed twin of ``georasters.GeoRaster`` (georasters.py:304).

    Holds the pixel DataFrame (row, col, value) + the scalar georef;
    the tiles/images table is attached when known (constructors from
    tiles) or assembled on demand for the operators that consume tiles
    (clip/stats/distance), mirroring how the reference keeps one
    ``raster`` array for everything.  Tiles attached at construction
    also carry ``reproject``'s gathers and ``apply``'s stencils; tiles
    assembled on demand do not (assembly costs more than the pixel
    joins it would replace for nearest and focal).
    """

    def __init__(self, px: DataFrame, origin: tuple[float, float],
                 cellsize: tuple[float, float], shape: tuple[int, int],
                 ndv: float = -9999.0, projection: str | None = None,
                 images: DataFrame | None = None):
        self.px = px.select("row", "col", "value")
        self.xmin, self.ymax = float(origin[0]), float(origin[1])
        self.cellx, self.celly = float(cellsize[0]), float(cellsize[1])
        self.shape = (int(shape[0]), int(shape[1]))
        self.ndv = float(ndv)
        self.projection = projection
        self._images = images
        # the tiles the pixel table was decoded from, None when images()
        # would have to assemble them
        self._stored = images

    # -- georef accessors (reference .geot, georasters.py:317-354) ----
    @property
    def geot(self):
        return (self.xmin, self.cellx, 0.0, self.ymax, 0.0, self.celly)

    @property
    def origin(self):
        return (self.xmin, self.ymax)

    @property
    def cellsize(self):
        return (self.cellx, self.celly)

    def _like(self, px: DataFrame, **over) -> "GeoRasterFrame":
        kw = dict(origin=self.origin, cellsize=self.cellsize,
                  shape=self.shape, ndv=self.ndv,
                  projection=self.projection)
        kw.update(over)
        return GeoRasterFrame(px, **kw)

    def images(self) -> DataFrame:
        """The tiles table — attached at construction, else assembled
        once from the pixel table (pixels.assemble_tiles).  Assembled
        tiles are LOSSLESS float64 (rawf64): a derived frame's values
        may be fractional or outside int16 (gr / 2, gr * 10**5), so
        the int16 default of assemble_tiles would silently truncate or
        wrap them before clip/stats/distance/to_tiff ran.  NULL values
        (e.g. floordiv-by-zero) are masked cells and are dropped."""
        if self._images is None:
            from .operators import pixels as PX

            self._images = PX.assemble_tiles(
                self.px.filter(F.col("value").isNotNull()),
                grid_id="frame", origin=self.origin,
                cellsize=self.cellsize, ndv=self.ndv,
                fmt="rawf64", dtype="float64",
            )
        return self._images

    # -- constructors (georasters.py:281-291, :1548-1599) -------------
    @classmethod
    def from_images(cls, images: DataFrame, origin, cellsize, shape,
                    ndv: float = -9999.0, projection: str | None = None,
                    valid_only: bool = True) -> "GeoRasterFrame":
        from .operators import pixels as PX

        px = PX.pixel_table(images, valid_only=valid_only).select(
            "row", "col", "value")
        gr = cls(px, origin, cellsize, shape, ndv=ndv,
                 projection=projection, images=images)
        if not valid_only:
            # px keeps the nodata cells as values, which the tile
            # kernels mask
            gr._stored = None
        return gr

    @classmethod
    def from_file(cls, spark, path: str, tile: int = 256) -> "GeoRasterFrame":
        """Reference from_file/load_tiff (georasters.py:281-291,
        :1548-1566) over the from-scratch GeoTIFF reader.  The georef
        is derived from the loaded tile metadata.  For a single local
        file (the reference's from_file case) the TRUE raster dims are
        probed from the TIFF header, so shape — and with it argmax/
        argmin FLAT indices (row*shape[1]+col) and extent/aggregate
        crops — matches the reference exactly even when dims aren't
        tile multiples.  For a glob/directory mosaic the shape falls
        back to whole-tile rounding (edge tiles are ndv-padded)."""
        import os

        from .sources import geotiff as GT

        images = GT.load_tiff(spark, path, tile=tile)
        m = images.agg(
            F.min("xmin").alias("xmin"), F.max("ymax").alias("ymax"),
            F.first("cellx").alias("cellx"), F.first("celly").alias("celly"),
            F.max("tile_row").alias("mtr"), F.max("tile_col").alias("mtc"),
            F.first("w").alias("w"), F.first("h").alias("h"),
            F.first("ndv").alias("ndv"), F.first("crs").alias("crs"),
        ).collect()[0]
        if os.path.isfile(path):
            shape = GT.tiff_dims(path)
        else:
            shape = ((m["mtr"] + 1) * m["h"], (m["mtc"] + 1) * m["w"])
        return cls.from_images(
            images,
            origin=(m["xmin"], m["ymax"]),
            cellsize=(m["cellx"], m["celly"]),
            shape=shape,
            ndv=m["ndv"], projection=m["crs"],
        )

    @classmethod
    def from_pandas(cls, df: DataFrame, value: str = "value",
                    x: str = "x", y: str = "y") -> "GeoRasterFrame":
        """Reference from_pandas incl. the max-gap cell-size quirk
        (georasters.py:1569-1599, SURVEY §1.4.9)."""
        from .operators import pixels as PX

        meta = PX.infer_grid_from_points(df, x_col=x, y_col=y)
        px = df.select(
            G.row_of_y(F.col(y), meta["ymax"], meta["celly"]).alias("row"),
            G.col_of_x(F.col(x), meta["xmin"], meta["cellx"]).alias("col"),
            F.col(value).alias("value"),
        )
        return cls(px, origin=(meta["xmin"], meta["ymax"]),
                   cellsize=(meta["cellx"], meta["celly"]),
                   shape=(meta["nrows"], meta["ncols"]))

    # -- elementwise algebra (georasters.py:375-528) ------------------
    def _binary(self, other, fn, out_cast=None):
        v = F.col("value")
        if isinstance(other, GeoRasterFrame):
            G.assert_same_grid(self._grid_meta(), other._grid_meta())
            o = other.px.select(
                "row", "col", F.col("value").alias("_vo"))
            # inner join = masked-where-either-masked (reference
            # np.ma propagation, georasters.py:430-528)
            j = self.px.join(o, ["row", "col"])
            expr = fn(v, F.col("_vo"))
        else:
            j = self.px
            expr = fn(v, F.lit(other))
        if out_cast:
            expr = expr.cast(out_cast)
        return self._like(j.select("row", "col", expr.alias("value")))

    def _grid_meta(self):
        return {"xmin": self.xmin, "ymax": self.ymax, "cellx": self.cellx,
                "celly": self.celly, "crs": self.projection}

    def __add__(self, other):
        return self._binary(other, lambda a, b: a + b)

    __radd__ = __add__

    def __sub__(self, other):
        return self._binary(other, lambda a, b: a - b)

    def __rsub__(self, other):
        return self._binary(other, lambda a, b: b - a)

    def __mul__(self, other):
        return self._binary(other, lambda a, b: a * b)

    __rmul__ = __mul__

    def __truediv__(self, other):
        return self._binary(other, lambda a, b: a / b)

    def __rtruediv__(self, other):
        return self._binary(other, lambda a, b: b / a)

    def __floordiv__(self, other):
        # reference __floordiv__ TRUNCATES the true quotient
        # (georasters.py:494-513 — NOT floor); NULL on divide-by-zero
        def fdiv(a, b):
            q = a / b
            t = F.when(q >= 0, F.floor(q)).otherwise(F.ceil(q))
            return F.when(b == 0, F.lit(None)).otherwise(t)

        return self._binary(other, fdiv)

    def __pow__(self, other):
        return self._binary(
            other, lambda a, b: F.pow(a.cast("double"), b.cast("double")))

    def __neg__(self):
        return self._like(self.px.select(
            "row", "col", (-F.col("value")).alias("value")))

    def __pos__(self):
        return self

    def __lt__(self, other):
        return self._binary(other, lambda a, b: a < b)

    def __le__(self, other):
        return self._binary(other, lambda a, b: a <= b)

    def __gt__(self, other):
        return self._binary(other, lambda a, b: a > b)

    def __ge__(self, other):
        return self._binary(other, lambda a, b: a >= b)

    def eq(self, other):  # __eq__ kept as identity for hashability
        return self._binary(other, lambda a, b: a == b)

    def ne(self, other):
        return self._binary(other, lambda a, b: a != b)

    # -- global aggregations (georasters.py:715-868; ddof=0) ----------
    def _agg1(self, expr):
        return self.px.agg(expr.alias("_v")).collect()[0]["_v"]

    def mean(self):
        return self._agg1(F.mean("value"))

    def max(self):
        return self._agg1(F.max("value"))

    def min(self):
        return self._agg1(F.min("value"))

    def sum(self):
        return self._agg1(F.sum("value"))

    def count(self):
        return self._agg1(F.count("value"))

    def median(self):
        return self._agg1(F.median("value"))

    def std(self):
        return self._agg1(F.stddev_pop("value"))

    def var(self):
        return self._agg1(F.var_pop("value"))

    def prod(self):
        """Product with sign/zero tracking + log magnitude (the raw
        product of ~1e5 values overflows every float; SURVEY §2.5)."""
        v = F.col("value")
        r = self.px.agg(
            F.sum((v == 0).cast("long")).alias("zeros"),
            F.sum((v < 0).cast("long")).alias("negs"),
            F.sum(F.when(v != 0, F.log(F.abs(v)))).alias("lnmag"),
        ).collect()[0]
        if r["zeros"] and r["zeros"] > 0:
            return 0.0
        if r["lnmag"] is None:
            return 1.0  # empty raster: np.ma.prod convention
        sign = -1.0 if (r["negs"] or 0) % 2 else 1.0
        try:
            return sign * math.exp(r["lnmag"])
        except OverflowError:
            return sign * math.inf

    def _arg(self, best_first) -> int:
        """First-occurrence FLAT index (reference argmax/argmin,
        georasters.py:793-819)."""
        w = self.shape[1]
        flat = (F.col("row") * w + F.col("col")).alias("_flat")
        row = (
            self.px.select("value", flat)
            .orderBy(*best_first, F.col("_flat").asc())
            .limit(1)
            .collect()[0]
        )
        return int(row["_flat"])

    def argmax(self) -> int:
        return self._arg([F.col("value").desc()])

    def argmin(self) -> int:
        return self._arg([F.col("value").asc()])

    def gini(self) -> float:
        from .operators import algebra as AL

        row = AL.gini_agg(self.px.select("value")).collect()[0]
        return float(row["gini"])

    # -- lookups / windows (georasters.py:355-367, :990-1044) ---------
    def map_pixel(self, point_x: float, point_y: float):
        """Value at a world point (georasters.py:990-1004; HALF_EVEN
        rounding like the reference's np.round)."""
        r, c = self.map_pixel_location(point_x, point_y)
        rows = self.px.filter(
            (F.col("row") == r) & (F.col("col") == c)).collect()
        return rows[0]["value"] if rows else None

    def map_pixel_location(self, point_x: float, point_y: float):
        """(row, col) of a world point (georasters.py:1006-1014) — the
        same HALF_EVEN ratio rounding as functions.grid.col_of_x/
        row_of_y, computed driver-side for the scalar case."""
        r = _round_half_even((point_y - self.ymax) / self.celly)
        c = _round_half_even((point_x - self.xmin) / self.cellx)
        return int(r), int(c)

    def extract(self, point_x: float, point_y: float, radius: int = 0):
        """Window around a point (georasters.py:1016-1030)."""
        r0, c0 = self.map_pixel_location(point_x, point_y)
        return self._like(self.px.filter(G.extract_predicate(
            F.col("row"), F.col("col"), r0, c0, radius, radius)))

    def extent(self, xmin: float, ymin: float, xmax: float, ymax: float):
        """World-extent crop (georasters.py:1032-1044)."""
        xc = G.x_center_of_col(F.col("col"), self.xmin, self.cellx)
        yc = G.y_center_of_row(F.col("row"), self.ymax, self.celly)
        return self._like(self.px.filter(
            G.extent_predicate(xc, yc, xmin, ymin, xmax, ymax)))

    # -- block ops (georasters.py:153-176, :1055-1139) ----------------
    def aggregate(self, block_size: int):
        """Block SUM with the reference's ANY-masked rule
        (georasters.py:153-176, :1055-1072; SURVEY §1.4.4): a block
        with any missing cell is masked."""
        b = int(block_size)
        h, w = self.shape
        full = F.count(F.lit(1)) == F.lit(b * b)
        agg = (
            self.px.filter((F.col("row") < (h // b) * b)
                           & (F.col("col") < (w // b) * b))
            .groupBy((F.col("row") / b).cast("long").alias("row"),
                     (F.col("col") / b).cast("long").alias("col"))
            .agg(F.when(full, F.sum("value")).alias("value"))
            .filter(F.col("value").isNotNull())
        )
        return GeoRasterFrame(
            agg, origin=self.origin,
            cellsize=(self.cellx * b, self.celly * b),
            shape=(h // b, w // b), ndv=self.ndv,
            projection=self.projection)

    def block_reduce(self, block_size: int, how: str = "mean"):
        """skimage block_reduce analog (georasters.py:1074-1093)."""
        b = int(block_size)
        h, w = self.shape
        fn = {"mean": F.mean, "sum": F.sum, "min": F.min, "max": F.max}[how]
        agg = (
            self.px.groupBy((F.col("row") / b).cast("long").alias("row"),
                            (F.col("col") / b).cast("long").alias("col"))
            .agg(fn("value").alias("value"))
        )
        return GeoRasterFrame(
            agg, origin=self.origin,
            cellsize=(self.cellx * b, self.celly * b),
            shape=(math.ceil(h / b), math.ceil(w / b)), ndv=self.ndv,
            projection=self.projection)

    def resize(self, out_shape: tuple[int, int], order: int = 0,
               prefilter: bool = True):
        """skimage-parity resize (georasters.py:1095-1139; orders
        0/1/3, order=3 prefilter= as in operators.reproject)."""
        from .operators import reproject as RP

        th, tw = out_shape
        h, w = self.shape
        out = RP.resize_grid(self.px, self.shape, (th, tw), order=order,
                             prefilter=prefilter)
        out = out.select(F.col("trow").alias("row"),
                         F.col("tcol").alias("col"), "value")
        return GeoRasterFrame(
            out.filter(F.col("value").isNotNull()), origin=self.origin,
            cellsize=(self.cellx * w / tw, self.celly * h / th),
            shape=(th, tw), ndv=self.ndv, projection=self.projection)

    def align(self, other: "GeoRasterFrame", factor: int) -> DataFrame:
        """Common-grid alignment (georasters.py:1047-1053, 1616-1681):
        self (fine) block-meaned onto other's (coarse) lattice, cropped
        to the overlap.  Returns the aligned pair table
        (brow, bcol, va_mean, va_cnt, vb)."""
        from .operators import algebra as AL

        return AL.align_grids(self.px, other.px, factor)

    def union(self, other: "GeoRasterFrame"):
        """Later-wins mosaic (georasters.py:1493-1545, SURVEY §1.4.2)."""
        from .operators import algebra as AL

        return self._like(AL.union_pixels([self.px, other.px]))

    merge = union  # georasters.py:707-713 delegates to union

    def viewshed(self, observer: tuple[int, int], radius: int,
                 eye_height: int = 0, target_height: int = 0):
        """gdal_viewshed role: integer-exact R3 line-of-sight around an
        observer cell; returns (row, col, d_cheb, blocked_steps,
        visible)."""
        from .operators import viewshed as VS

        return VS.viewshed(self.px.select("row", "col", "value"), observer,
                           radius, eye_height=eye_height,
                           target_height=target_height)

    def rescale(self, dst=(0.0, 255.0), src=None):
        """Linear rescale (gdal_translate -scale role)."""
        from .operators import algebra as AL

        return self._like(AL.linear_rescale(
            self.px.select("row", "col", "value"), dst=dst, src=src))

    def equalize(self, levels: int = 256):
        """Histogram equalization (gdalenhance -equalize role)."""
        from .operators import algebra as AL

        return self._like(
            AL.histogram_equalize(
                self.px.select("row", "col", "value"), levels=levels))

    def to_xyz(self, base_zoom: int, min_zoom: int | None = None,
               tile_px: int = 256) -> DataFrame:
        """Web-Mercator z/x/y PNG tile pyramid (gdal2tiles role) —
        returns the (z, x, y, n_valid, bytes) tile frame."""
        from .operators import xyz as XYZ

        return XYZ.xyz_pyramid(
            self.images(), self.origin, self.cellsize,
            base_zoom=base_zoom,
            min_zoom=base_zoom if min_zoom is None else min_zoom,
            tile_px=tile_px, ndv=self.ndv)

    def pansharpen(self, ms: DataFrame, ms_shape: tuple[int, int],
                   ratio: int, n_bands: int, weights=None):
        """Weighted-Brovey fuse of this frame (pan band) with a
        ratio-coarser MS band table (gdal_pansharpen role); returns the
        (row, col, band, value) sharpened table from the block-cogroup
        kernel (value NULL where the pseudo-pan is 0, a bilinear corner
        is missing or no MS cell is in reach)."""
        from .operators import pansharpen as PS

        w = PS.DEFAULT_WEIGHTS if weights is None else weights
        return PS.brovey_pansharpen(self.px.select("row", "col", "value"),
                                    ms, ms_shape, ratio, n_bands, weights=w)

    @classmethod
    def from_points(cls, points: DataFrame, origin, cellsize,
                    shape: tuple[int, int], radius: float,
                    algorithm: str = "average", ndv: float = -9999.0,
                    power: float = 2.0) -> "GeoRasterFrame":
        """gdal_grid role: interpolate a raster from scattered (pid, x,
        y, value) points — algorithm in average/nearest/min/max/invdist."""
        from .operators import gridding as GR

        if algorithm == "invdist":
            out = GR.grid_points_invdist(points, origin, cellsize, shape,
                                         radius, power=power)
        else:
            col = {"average": "avg_value", "nearest": "nearest_value",
                   "min": "vmin", "max": "vmax", "count": "n_pts"}.get(algorithm)
            if col is None:
                raise ValueError(f"gdal_grid: unknown algorithm {algorithm!r}")
            out = GR.grid_points(points, origin, cellsize, shape, radius) \
                .select("trow", "tcol", F.col(col).cast("double").alias("value"))
        px = out.select(F.col("trow").alias("row"),
                        F.col("tcol").alias("col"), "value")
        return cls(px, origin=origin, cellsize=cellsize, shape=shape, ndv=ndv)

    # -- spatial joins (georasters.py:870-947) ------------------------
    def clip(self, zones, keep: bool = False):
        from .operators import spatial_join as SJ

        return SJ.clip(self.images(), zones, origin=self.origin,
                       cellsize=self.cellsize, ndv=self.ndv, keep=keep,
                       fmt="rawf64", dtype="float64")

    def stats(self, zones, percentiles=None):
        """Zonal stats (zonal_stats_extended: base moments, median,
        majority, percentiles) from the exact per-(zone, value) count
        table — requires integer-valued cells: a fractional value
        raises a ValueError in the fused kernel rather than truncating
        (round/scale first)."""
        from .operators import spatial_join as SJ

        return SJ.zonal_stats_extended(
            self.images(), zones, origin=self.origin,
            cellsize=self.cellsize, percentiles=percentiles)

    # -- reprojection (georasters.py:559-667) -------------------------
    def reproject(self, dst_crs, out_shape: tuple[int, int],
                  resampling: str = "nearest"):
        """Any→any warp (complete GDAL mode dict) — the frame's CRS is
        its projection (wgs84 when unset, the reference default).
        Nearest and the kernel modes gather from the stored tiles when
        the frame holds them; the aggregate modes read the pixels."""
        from .operators import reproject as RP

        return RP.reproject_any(
            self.px, src_crs=self.projection or "wgs84", dst_crs=dst_crs,
            src_origin=self.origin, src_cellsize=self.cellsize,
            src_shape=self.shape, out_shape=out_shape,
            resampling=resampling, images=self._stored)

    # -- spatial statistics (georasters.py:1166-1378, :1740-1775) -----
    def pysal_Moran(self, transform: str = "r", permutations: int = 0,
                    seed: int = 7, bin_threshold: int | None = None,
                    rook: bool = False):
        """Moran's I with the reference's DEFAULT row-standardized
        weights (esda transformation='r', georasters.py:1231-1269);
        transform='b'/'o' selects binary weights (that row also
        carries Geary/Getis/join-count sums)."""
        from .operators import autocorr as AC

        rowstd = transform.lower().startswith("r")
        if permutations:
            return AC.moran_permutation_test(
                self.px, n_perm=permutations, seed=seed, rook=rook,
                transform="r" if rowstd else "b")
        if rowstd:
            return AC.global_autocorr_rowstd(self.px, rook=rook)
        thr = bin_threshold if bin_threshold is not None else 0
        return AC.global_autocorr(self.px, bin_threshold=thr, rook=rook)

    def pysal_Geary(self, transform: str = "r", permutations: int = 0,
                    seed: int = 7, rook: bool = False):
        """Geary's C, row-standardized weights by default (the
        reference/esda default transformation='r'); transform='b'
        selects binary weights."""
        from .operators import autocorr as AC

        rowstd = transform.lower().startswith("r")
        if permutations:
            return AC.geary_permutation_test(
                self.px, n_perm=permutations, seed=seed, rook=rook,
                transform="r" if rowstd else "b")
        if rowstd:
            return AC.global_autocorr_rowstd(self.px, rook=rook)
        return AC.global_autocorr(self.px, bin_threshold=0, rook=rook)

    def pysal_Moran_Local(self, transform: str = "r", permutations: int = 0,
                          seed: int = 7, rook: bool = False):
        """LISA with the reference's DEFAULT row-standardized weights
        (esda transformation='r'); transform='b' gives the binary
        plan.  Conditional-permutation p_sim is weight-scale-invariant
        (within-cell weights are uniform), so the permutation path
        serves both transforms."""
        from .operators import autocorr as AC

        if permutations:
            return AC.local_permutation_test(
                self.px, n_perm=permutations, seed=seed, rook=rook)
        if transform.lower().startswith("r"):
            return AC.local_moran_rowstd(self.px, rook=rook)
        return AC.local_moran(self.px, rook=rook)

    def pysal_G_Local(self, star: bool = False, rook: bool = False):
        """esda G_Local: star=False (the default) is plain G_i — self
        EXCLUDED from the weights, leave-one-out moments; star=True is
        G*_i (self included)."""
        from .operators import autocorr as AC

        if star:
            return AC.gstar_local(self.px, rook=rook)
        return AC.g_local(self.px, rook=rook)

    def pysal_Gamma(self, bin_threshold: int = 0, rook: bool = False,
                    permutations: int = 0, seed: int = 7):
        """Gamma / Join-Counts family: the bb/ww/bw pair sums ride the
        same exact-integer one-row result as Moran/Geary/Getis
        (georasters.py:1190-1229); permutations= runs the esda-default
        upper-tail tests for Gamma AND the BB join count (exact
        integer compares, one pair-frame pass)."""
        from .operators import autocorr as AC

        if permutations:
            return AC.gamma_joincount_permutation_test(
                self.px, bin_threshold=bin_threshold,
                n_perm=permutations, seed=seed, rook=rook)
        return AC.global_autocorr(self.px, bin_threshold=bin_threshold,
                                  rook=rook)

    pysal_Join_Counts = pysal_Gamma

    def raster_weights(self, rook: bool = False):
        from .operators import autocorr as AC

        return AC.neighbor_pairs(self.px, rook=rook)

    # -- distance / routing (georasters.py:1396-1486) -----------------
    def distance(self, sources: DataFrame, destinations: DataFrame,
                 routes: bool = False):
        from .operators import distance as DT

        return DT.cost_distance(
            self.images(), sources, destinations, origin=self.origin,
            cellsize=self.cellsize, routes=routes)

    mcp = distance  # georasters.py:1396-1404 wraps the same machinery

    def map_vector(self, vec: DataFrame):
        """Vector→raster by C-order position (georasters.py:1777-1790).
        ``vec``: (i, new_value) with i the 0-based C-order rank."""
        from .operators import algebra as AL

        out = AL.map_vector(self.px, vec).select(
            "row", "col", F.col("new_value").alias("value"))
        return self._like(out)

    # -- apply (georasters.py:978-988, distributed contract) ----------
    def apply(self, column_fn=None, stencil_fn=None, k: int = 3):
        """Elementwise Column fn (stays JVM-side) or a numpy k×k
        stencil via focal_apply (focal_apply_tiles over the stored
        tiles).  The reference's whole-raster callables cannot exist at
        10^12 px — callers pick one of the two distributed shapes
        instead."""
        if (column_fn is None) == (stencil_fn is None):
            raise ValueError("apply: exactly one of column_fn/stencil_fn")
        if column_fn is not None:
            return self._like(self.px.select(
                "row", "col", column_fn(F.col("value")).alias("value")))
        from .operators import focal as FO

        if self._stored is not None:
            return self._like(FO.focal_apply_tiles(self._stored, stencil_fn, k=k))
        return self._like(FO.focal_apply(self.px, stencil_fn, k=k))

    # -- exports (georasters.py:535-557, :1702-1738) ------------------
    def to_pandas(self):
        """Per-pixel frame with world coords (georasters.py:1702-1714)."""
        return self.px.select(
            "row", "col", "value",
            G.x_of_col(F.col("col"), self.xmin, self.cellx).alias("x"),
            G.y_of_row(F.col("row"), self.ymax, self.celly).alias("y"),
        )

    def squares(self):
        from .operators import algebra as AL

        return AL.squares(self.px, self.origin, self.cellsize)

    def to_geopandas(self):
        """Region WKT polygons (georasters.py:1717-1738)."""
        from .operators import algebra as AL

        return AL.polygonize_geoms(self.px, self.origin, self.cellsize)

    def to_file(self, base: str, crs_wkt: str | None = None,
                driver: str = "ESRI Shapefile") -> int:
        """to_geopandas().to_file() in one step: region polygons →
        .shp/.shx/.dbf(+.prj) via the from-scratch shapefile sink, or
        an RFC 7946 FeatureCollection with driver='GeoJSON' (the two
        geopandas drivers the reference workflow uses)."""
        if driver == "GeoJSON":
            from .sources import geojson as GJ

            path = base if base.endswith(".geojson") else base + ".geojson"
            return GJ.write_geojson(self.to_geopandas(), path)
        if driver != "ESRI Shapefile":
            raise ValueError(f"to_file: unsupported driver {driver!r}")
        from .sources import shapefile as SHP

        return SHP.write_shapefile(self.to_geopandas(), base,
                                   crs_wkt=crs_wkt)

    def to_tiff(self, path: str) -> None:
        """Single-file GeoTIFF export (georasters.py:535-557) via the
        from-scratch writer — the documented eager small-raster shape
        (tiles_to_tiff is the distributed sink)."""
        from .sources import geotiff as GT

        buf = GT.assemble_tiff(
            self.images(), origin=self.origin, cellsize=self.cellsize,
            shape=self.shape, ndv=self.ndv)
        with open(path, "wb") as f:
            f.write(buf)

    def copy(self):
        return self._like(self.px)
