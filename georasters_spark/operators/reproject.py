"""Reprojection (georasters.py:559-667) — one warp for every CRS pair,
Spark-first.

The reference shells out to GDAL WarpedVRT; its own test suite only
exercises WGS84 <-> cylindrical-equal-area (tests/test_georasters.py:
315-397).  Every CRS this engine supports has closed-form forward and
inverse transforms (CEA, WebMercator, sinusoidal, the Krüger TM series,
the Snyder conics, Helmert datum shifts and the ellipsoidal Mercator),
so ``reproject`` (an alias of ``reproject_any``) — like the
reference's single GDAL warp call — is one plan for any pair:

  target cell center --inverse(dst)--> lon/lat --forward(src)--> x, y

The warp is an inverse-projection *gather*, exactly like resize: build
the target grid (spark.range × spark.range) on the ``any_bounds``
lattice, project each cell center into source units with the numpy
transforms in one Arrow pass (``_project``), and gather the source
(row, col).  One gather per resampling rule: nearest takes the
quantized source cell; bilinear, cubic, cubicspline and lanczos are
rows of one separable-kernel table (offsets, weight function w(o, d),
weight-mass NULL guard).  Each rule has two plans over the same
arithmetic: a join of the pixel table (``_kernel_gather``) or, given
``images=``, a tile cogroup over the tiles table (``gather_from_tiles``
/ ``_kernel_gather_tiles``; only the target lattice shuffles, and every
tile-cogroup kernel enforces one tiles-table contract through
``_tile_shape`` / ``_check_tiles``).  The gdalwarp aggregate modes
forward-bucket source pixels (the reference resampling-mode dict,
georasters.py:592-606).  The DuckDB SQL twins below and the numpy
references in the tests are the independent checks.

Engine-stable gather rule (the DuckDB-oracle contract): the fractional
source index u = (lat − y0)/cy is quantized to 1e-4 cell units BEFORE
floor — numpy's, the JVM's and DuckDB's trig may disagree by 1 ulp,
and a bare floor() would flip on that measure-zero boundary set.
round(u, 4) maps every engine's u (which agree to ~1e-10) to the same
grid value, at the
cost of a ≤1e-4-cell assignment tolerance — negligible for a
nearest-neighbor warp and identical across Spark, DuckDB and the numpy
differential oracle. degrees() is likewise spelled out as
`· 180.0 / π` because Java's toDegrees (x·180/π) and DuckDB's degrees
(x·(180/π)) associate differently.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

R = 6378137.0
_Q = 4  # quantization dp for the floor-stable gather (see module doc)


def dlit(x: float) -> str:
    """DuckDB double literal: a bare decimal literal may be typed
    DECIMAL (not DOUBLE) and drift 1 ulp through arithmetic; casting
    the repr STRING to DOUBLE is strtod = exact round-trip."""
    return f"CAST('{x!r}' AS DOUBLE)"


_WINDOW_BYTES = 32 << 20  # cap on one cogroup task's float64 block window


def _superblock(n_targets, src_shape, t_h: int, t_w: int) -> int:
    """Tile superblock factor for the cogroup gathers: size each task
    for ~32k targets (per-group Python overhead dominates below ~1k
    targets/tile — measured), derived from the data shape, never from
    the local core count.  1 when the shapes are unknown.  A block
    never spans more tiles than the source has along its longer side,
    and its dense float64 window stays within ``_WINDOW_BYTES`` (block
    + 2 tiles a side: the kernel plans' halo is at most a tile
    on each side)."""
    if n_targets is None or src_shape is None:
        return 1
    n_tr = -(-int(src_shape[0]) // t_h)
    n_tc = -(-int(src_shape[1]) // t_w)
    want = math.ceil(math.sqrt(32768 * max(1, n_tr * n_tc)
                               / max(1, int(n_targets))))
    fit = math.isqrt(_WINDOW_BYTES // (8 * t_h * t_w)) - 2
    return max(1, min(want, max(n_tr, n_tc), fit))


# ---------------------------------------------------------------------------
# the tiles-table contract of every tile-cogroup kernel (gather_from_tiles,
# _kernel_gather_tiles, focal.focal_apply_tiles, xyz._fused_base_tiles):
# one row per (tile_row, tile_col), every tile the same h x w
# ---------------------------------------------------------------------------

def _tile_shape(images: DataFrame, tile_shape, who: str) -> tuple[int, int]:
    """(t_h, t_w) of a uniform tiles table.  The tile side keys the
    shuffle, so it must be known while planning: ``tile_shape`` when
    given, else a one-row probe job (pass tile_shape to skip it)."""
    if tile_shape is not None:
        return int(tile_shape[0]), int(tile_shape[1])
    dims = images.select("w", "h").first()
    if dims is None:
        raise ValueError(f"{who}: empty images table "
                         "(pass tile_shape to plan over it anyway)")
    return int(dims["h"]), int(dims["w"])


def _check_tiles(right: pd.DataFrame, t_h: int, t_w: int, who: str) -> None:
    """In-kernel half of the contract, on the tile rows a task already
    holds: a duplicate key would mix grids nondeterministically (e.g.
    an unresolved mosaic union), and a tile of another shape would
    place its cells by its own w/h while targets were keyed by
    (t_h, t_w) — refuse both instead of gathering wrong cells."""
    if right.duplicated(["tile_row", "tile_col"]).any():
        raise ValueError(
            f"{who}: duplicate image rows share tile keys; resolve "
            "duplicates (e.g. union_mosaic) first")
    odd = (right["h"] != t_h) | (right["w"] != t_w)
    if odd.any():
        bad = right[odd].iloc[0]
        raise ValueError(
            f"{who}: tile ({bad.tile_row}, {bad.tile_col}) is "
            f"{bad.h}x{bad.w}, expected uniform {t_h}x{t_w} tiles")


def _gather_values(rows: np.ndarray, cols: np.ndarray, right: pd.DataFrame,
                   t_h: int, t_w: int) -> np.ndarray:
    """float64 values at the global source cells (rows, cols) from the
    stored tiles in ``right`` (checked by ``_check_tiles``); NaN where
    no tile covers the cell or the cell is masked (ndv).  One sort by
    composite tile key, then a contiguous slice per tile (r7): per-tile
    full-length masks cost O(#tiles·M), the sort is O(M log M) once.
    Floor division matches the tile keying, so out-of-range cells fall
    in gaps no tile key hits."""
    from ..sources import codec as _codec

    vals = np.full(len(rows), np.nan)
    tkey = (rows // t_h) * (np.int64(1) << 32) + (cols // t_w)
    order = np.argsort(tkey, kind="stable")
    ks = tkey[order]
    for t in right.itertuples(index=False):
        tk = (np.int64(t.tile_row) << 32) + np.int64(t.tile_col)
        lo = int(np.searchsorted(ks, tk, "left"))
        hi = int(np.searchsorted(ks, tk, "right"))
        if lo == hi:
            continue
        idx = order[lo:hi]
        ndv = float(t.ndv)
        arr = _codec.decode_tile(bytes(t.bytes), t.fmt, t_w, t_h, ndv)
        v = arr[rows[idx] - int(t.tile_row) * t_h,
                cols[idx] - int(t.tile_col) * t_w].astype(np.float64)
        v[v == ndv] = np.nan
        vals[idx] = v
    return vals


def gather_from_tiles(tgt: DataFrame, images: DataFrame,
                      carry: tuple = ("xm", "ym"),
                      tile_shape: tuple[int, int] | None = None,
                      n_targets: int | None = None,
                      src_shape: tuple[int, int] | None = None) -> DataFrame:
    """Exchange-light nearest gather (the 100-TB path): instead of
    exploding every tile into a pixel table and shuffle-joining ~N
    pixel rows against the target lattice (two N-row exchanges plus
    sort-merge), shuffle ONLY the target rows — keyed by the source
    tile each one gathers from — and cogroup them with the
    one-row-per-tile images table.  Each task decodes its tile once
    and indexes all its gathers in numpy.  Shuffle volume drops from
    (N source pixels + M targets) rows to (M targets + #tiles) rows,
    and the decode stage never materializes pixels it does not gather.

    ``tgt`` must carry (trow, tcol, row, col) — row/col the computed
    nearest source index — plus any ``carry`` columns to pass through.
    ``images`` is the standard tiles table (tile_row, tile_col, bytes,
    fmt, w, h, ndv).  Out-of-range indices and masked (ndv) cells emit
    NULL, exactly like the left-join gather (pytest-pinned
    equivalence).

    When ``n_targets`` and ``src_shape`` are given, tiles group into
    B×B SUPERBLOCKS sized so each cogroup task resolves ~32k targets:
    one stored-tile-per-group made the per-group Python overhead (a few
    hundred µs × #tiles) the dominant cost once targets/tile fell below
    ~1k (measured: the sf1 nearest gather spent most of its wall in
    22.9k group invocations of ~370 rows).  The block factor derives
    from the measured work per group — target count over tile count —
    not from the local core count, so it adapts from the 45-tile gate
    grids to a cluster-scale lattice."""
    t_h, t_w = _tile_shape(images, tile_shape, "gather_from_tiles")
    block = _superblock(n_targets, src_shape, t_h, t_w)
    b_h, b_w = block * t_h, block * t_w
    # floor division via floor(): SQL DIV truncates toward zero, which
    # would fold negative (out-of-range) indices into tile 0
    keyed = tgt.select(
        "trow", "tcol", "row", "col", *carry,
        F.floor(F.col("row") / F.lit(b_h)).cast("long").alias("_tr"),
        F.floor(F.col("col") / F.lit(b_w)).cast("long").alias("_tc"),
    )
    out_cols = ["trow", "tcol", *carry, "value"]
    schema = ", ".join(
        {"trow": "trow long", "tcol": "tcol long", "xm": "xm double",
         "ym": "ym double", "wgt": "wgt double",
         "value": "value double"}[c] for c in out_cols)

    def kernel(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        out = left[["trow", "tcol", *carry]].copy()
        if not len(right):
            # no tile reaches this block (NULL-keyed targets, whose
            # source index is NULL, included): every gather is NULL
            out["value"] = pd.array(np.full(len(left), np.nan), dtype="Float64")
            return out
        _check_tiles(right, t_h, t_w, "gather_from_tiles")
        vals = _gather_values(left["row"].to_numpy(np.int64),
                              left["col"].to_numpy(np.int64), right, t_h, t_w)
        out["value"] = pd.array(vals, dtype="Float64")  # NaN -> NULL
        return out

    # grouping keys MUST have identical types on both cogroup sides:
    # hash partitioning is type-sensitive (int 1 and long 1 hash to
    # different partitions), so an int tile_row against a long _tr
    # silently yields empty right-side groups
    imgs_keyed = images.select(
        F.col("tile_row").cast("long").alias("tile_row"),
        F.col("tile_col").cast("long").alias("tile_col"),
        "bytes", "fmt", "w", "h", "ndv",
    ).withColumn(
        "_tr", F.floor(F.col("tile_row") * F.lit(t_h) / F.lit(b_h)).cast("long")
    ).withColumn(
        "_tc", F.floor(F.col("tile_col") * F.lit(t_w) / F.lit(b_w)).cast("long")
    )
    return (
        keyed.groupBy("_tr", "_tc")
        .cogroup(imgs_keyed.groupBy("_tr", "_tc"))
        .applyInPandas(kernel, schema)
    )


def _wgs84_tgt(dst, src_origin, src_cellsize, src_shape, out_shape) -> str:
    """The target-lattice SELECT of the WGS84-source SQL twins: the
    engine's any_bounds lattice, cell centers xm/ym as literal
    arithmetic over range(th) x range(tw)."""
    th, tw = out_shape
    X0, Y1, X1, Y0 = any_bounds(4326, dst, src_origin, src_cellsize, src_shape)
    return f"""SELECT CAST(tr.range AS BIGINT) AS trow, CAST(tc.range AS BIGINT) AS tcol,
         {dlit(X0)} + (tc.range + 0.5) * {dlit((X1 - X0) / tw)} AS xm,
         {dlit(Y0)} + (tr.range + 0.5) * {dlit((Y1 - Y0) / th)} AS ym
  FROM range({th}) tr CROSS JOIN range({tw}) tc"""


def _cea_lonlat_sql(xm: str, ym: str) -> tuple[str, str]:
    """Closed-form CEA inverse (standard parallel 0) in DuckDB SQL."""
    return (f"(({xm}) / {dlit(R)} * 180.0 / pi())",
            f"(asin(({ym}) * {dlit(1.0 / R)}) * 180.0 / pi())")


def _cea_tgt_loc_ctes(src_origin, src_cellsize, src_shape, out_shape) -> str:
    """The shared tgt/loc CTE pair of every CEA-target oracle (the
    lattice + quantized-floor inverse) — ONE copy, composed by
    wgs84_to_cea_sql and warp_cutline_sql."""
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    lon, lat = _cea_lonlat_sql("xm", "ym")
    tgt = _wgs84_tgt("cea", src_origin, src_cellsize, src_shape, out_shape)
    return f"""tgt AS (
  {tgt}),
loc AS (
  SELECT trow, tcol, xm, ym,
         CAST(FLOOR(ROUND(({lat} - {dlit(y0g)}) / {dlit(cy)}, {_Q})) AS BIGINT) AS row,
         CAST(FLOOR(ROUND(({lon} - {dlit(x0g)}) / {dlit(cx)}, {_Q})) AS BIGINT) AS col
  FROM tgt)"""


def wgs84_to_cea_sql(
    px_cte: str,
    src_origin: tuple[float, float],
    src_cellsize: tuple[float, float],
    src_shape: tuple[int, int],
    out_shape: tuple[int, int],
) -> str:
    """DuckDB oracle for the WGS84 -> CEA nearest warp: the closed-form
    inverse gather over the same pixel CTE and lattice (incl. the
    round-4 quantized floor)."""
    ctes = _cea_tgt_loc_ctes(src_origin, src_cellsize, src_shape, out_shape)
    return f"""WITH {px_cte},
{ctes}
SELECT loc.trow, loc.tcol, loc.xm AS xm, loc.ym AS ym, px.value
FROM loc LEFT JOIN px ON px.row = loc.row AND px.col = loc.col"""


def wgs84_to_webmercator_sql(
    px_cte: str,
    src_origin: tuple[float, float],
    src_cellsize: tuple[float, float],
    src_shape: tuple[int, int],
    out_shape: tuple[int, int],
) -> str:
    """DuckDB oracle for the WGS84 -> WebMercator nearest warp (same
    contract as wgs84_to_cea_sql), φ = 2·atan(exp(Y/R)) − π/2."""
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    tgt = _wgs84_tgt(3857, src_origin, src_cellsize, src_shape, out_shape)
    return f"""WITH {px_cte},
tgt AS (
  {tgt}),
loc AS (
  SELECT trow, tcol, xm, ym,
         CAST(FLOOR(ROUND(((2.0 * atan(exp(ym / {dlit(R)})) - {dlit(math.pi / 2)}) * 180.0 / pi() - {dlit(y0g)}) / {dlit(cy)}, {_Q})) AS BIGINT) AS row,
         CAST(FLOOR(ROUND((xm / {dlit(R)} * 180.0 / pi() - {dlit(x0g)}) / {dlit(cx)}, {_Q})) AS BIGINT) AS col
  FROM tgt)
SELECT loc.trow, loc.tcol, loc.xm AS xm, loc.ym AS ym, px.value
FROM loc LEFT JOIN px ON px.row = loc.row AND px.col = loc.col"""


def wgs84_to_cea_bilinear_sql(
    px_cte: str,
    src_origin: tuple[float, float],
    src_cellsize: tuple[float, float],
    src_shape: tuple[int, int],
    out_shape: tuple[int, int],
) -> str:
    """DuckDB oracle for the WGS84 -> CEA bilinear warp (same quantized
    fractional index, same weight expressions; the <=4-term weighted
    sums are rounded to 6dp on both sides)."""
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    lon, lat = _cea_lonlat_sql("xm", "ym")
    tgt = _wgs84_tgt("cea", src_origin, src_cellsize, src_shape, out_shape)
    return f"""WITH {px_cte},
tgt AS (
  {tgt}),
uv AS (
  SELECT trow, tcol,
         ROUND(({lat} - {dlit(y0g)}) / {dlit(cy)} - 0.5, {_Q}) AS u,
         ROUND(({lon} - {dlit(x0g)}) / {dlit(cx)} - 0.5, {_Q}) AS v
  FROM tgt),
corners AS (
  SELECT trow, tcol,
         CAST(FLOOR(u) AS BIGINT) + o.a AS row,
         CAST(FLOOR(v) AS BIGINT) + o.b AS col,
         (CASE WHEN o.a = 1 THEN u - FLOOR(u) ELSE 1.0 - (u - FLOOR(u)) END)
         * (CASE WHEN o.b = 1 THEN v - FLOOR(v) ELSE 1.0 - (v - FLOOR(v)) END) AS wgt
  FROM uv CROSS JOIN (VALUES (0, 0), (0, 1), (1, 0), (1, 1)) o(a, b)),
agg AS (
  SELECT corners.trow, corners.tcol,
         CASE WHEN SUM(corners.wgt) > 0
              THEN ROUND(SUM(corners.wgt * px.value) / SUM(corners.wgt), 6) END AS value,
         CAST(COUNT(*) AS BIGINT) AS n_contrib
  FROM corners JOIN px ON px.row = corners.row AND px.col = corners.col
  GROUP BY 1, 2)
SELECT tgt.trow, tgt.tcol, agg.value, agg.n_contrib
FROM tgt LEFT JOIN agg ON agg.trow = tgt.trow AND agg.tcol = tgt.tcol"""


# ---------------------------------------------------------------------------
# user-facing dispatcher: the reference API accepts EPSG ints, proj4 and
# WKT strings plus a resampling mode name (georasters.py:559-667), and
# every request is one reproject_any warp (``reproject`` is its alias,
# bound after its definition). CRSs outside parse_crs, and
# extents a projection cannot cover, raise NotImplementedError instead
# of a silent wrong answer.
# ---------------------------------------------------------------------------

_CRS_TOKENS = {
    "wgs84": "wgs84", "epsg:4326": "wgs84", "4326": "wgs84",
    "+proj=longlat": "wgs84",
    "cea": "cea", "epsg:6933": "cea", "6933": "cea", "+proj=cea": "cea",
    "webmercator": "webmerc", "epsg:3857": "webmerc", "3857": "webmerc",
    "epsg:900913": "webmerc", "+proj=merc": "webmerc",
    "epsg:3395": "merc3395", "3395": "merc3395",
    "sinusoidal": "sinu", "esri:54008": "sinu", "54008": "sinu",
    "+proj=sinu": "sinu",
}


def parse_crs(crs) -> str:
    """Normalize an EPSG int, 'EPSG:n' string, proj4 string, or WKT1
    GEOGCS/PROJCS to a supported token: wgs84 | cea | webmerc | sinu |
    'utm:<zone><n|s>' | 'aea:...'/'lcc:...' conics | 'geog:...' datum'd
    geographics (non-WGS84 ellipsoid + towgs84 Helmert).  UTM accepts
    EPSG:32601-32660 (north) / 32701-32760 (south) and
    '+proj=utm +zone=N [+south]' proj4 strings."""
    if isinstance(crs, str) and crs.lstrip()[:7].upper() in (
            "GEOGCS[", "PROJCS["):
        return parse_wkt(crs)
    raw = str(crs).strip().lower()
    key = raw
    if key.startswith("+"):
        if key.split()[0] == "+proj=longlat":
            return _parse_longlat_proj4(key)
        if key.split()[0] == "+proj=tmerc":
            return _parse_tmerc_proj4(key)
        if key.split()[0] == "+proj=utm":
            zone = None
            south = "+south" in key.split()
            for tokn in key.split():
                if tokn.startswith("+zone="):
                    zone = int(tokn.split("=", 1)[1])
            if zone is None or not (1 <= zone <= 60):
                raise NotImplementedError("+proj=utm needs +zone=1..60")
            return f"utm:{zone}{'s' if south else 'n'}"
        if key.split()[0] in ("+proj=aea", "+proj=lcc"):
            kind = key.split()[0][-3:]
            p = {"+lat_1": None, "+lat_2": None, "+lat_0": 0.0,
                 "+lon_0": 0.0, "+x_0": 0.0, "+y_0": 0.0}
            for tokn in key.split():
                k2, _, v = tokn.partition("=")
                if k2 in p and v:
                    p[k2] = float(v)
            if p["+lat_1"] is None:
                raise NotImplementedError(f"+proj={kind} needs +lat_1 (and +lat_2)")
            if p["+lat_2"] is None:
                p["+lat_2"] = p["+lat_1"]  # 1SP form
            return (f"{kind}:custom:{p['+lat_1']}:{p['+lat_2']}:{p['+lat_0']}"
                    f":{p['+lon_0']}:{p['+x_0']}:{p['+y_0']}")
        key = key.split()[0]
    num = key.removeprefix("epsg:")
    if num.isdigit():
        code = int(num)
        if 32601 <= code <= 32660:
            return f"utm:{code - 32600}n"
        if 32701 <= code <= 32760:
            return f"utm:{code - 32700}s"
        if code in CONIC_EPSG:
            return f"{CONIC_EPSG[code][0]}:{code}"
        if code in DATUM_EPSG:
            ell, tow = DATUM_EPSG[code]
            a, f = ELLIPSOIDS[ell]
            return geog_token(a, f, tow)
        if code in TMD_EPSG:
            return TMD_EPSG[code]
    tok = _CRS_TOKENS.get(key)
    if tok is None:
        raise NotImplementedError(
            f"CRS {crs!r} not supported in-sandbox (no GDAL/osr); supported: "
            "EPSG:4326 (source), EPSG:6933/+proj=cea, EPSG:3857/+proj=merc, "
            "EPSG:326xx/327xx and +proj=utm (Krüger-series transverse "
            "Mercator), ESRI:54008/+proj=sinu, EPSG:5070/3310 and +proj=aea "
            "(Albers equal-area conic), EPSG:2154/3978 and +proj=lcc "
            "(Lambert conformal conic) targets; datum'd geographic CRSs "
            "(EPSG:4267/4277/4269/4258/4230, '+proj=longlat +ellps/+a/+b/"
            "+towgs84', WKT1 GEOGCS) via geocentric Helmert; WKT1 PROJCS "
            "for the families above. On a cluster, swap in a GDAL-backed "
            "transform for anything else."
        )
    return tok


# gdalwarp aggregate mode name -> _bucket_agg ``how``
_AGG_MODES = {"average": "mean", "sum": "sum", "min": "min", "max": "max",
              "count": "count", "mode": "mode", "rms": "rms", "med": "med",
              "q1": "q1", "q3": "q3"}


def _unknown_mode(resampling: str) -> NotImplementedError:
    return NotImplementedError(
        f"resampling {resampling!r} not supported (have nearest/bilinear/"
        "cubic/cubicspline/lanczos/average/sum/min/max/count/mode/"
        "rms/med/q1/q3 — the FULL gdalwarp -r enum, "
        "georasters.py:592-606)")


# ---------------------------------------------------------------------------
# resampling modes beyond nearest (reference modes dict georasters.py:592-606):
# bilinear, cubic, cubicspline and lanczos are one separable-kernel gather
# ---------------------------------------------------------------------------

def _kernel_wfun_np(kernel: str, a: int = 3):
    """numpy twin of ``_kernel_offsets_wfun``'s weight function w(o, d)
    (offset o, fractional index d), used by the fused tile plan
    (`_kernel_gather_tiles`).  Every kernel follows the SAME operation
    order as the Column expressions (IEEE +,-,*,/ are exactly
    specified, so bilinear/catmull/bspline weights are bit-identical
    to the JVM's); lanczos shares the constants and structure but libm
    sin may differ from Math.sin by 1 ulp — the same magnitude the
    6-dp rounding already absorbs between Spark and the DuckDB oracle.

    DELIBERATELY separate from the kernel weights of the numpy test
    oracles (tests/numpy_oracles.py): this one is production code
    mirroring the Column expressions term-for-term, those are the
    independent check — merging them would make the oracle
    tautological."""
    if kernel == "bilinear":
        return lambda o, d: d if o == 1 else 1.0 - d
    if kernel == "catmull":

        def w(o, d):
            t = np.abs(o - d)
            t2, t3 = t * t, t * t * t
            return np.where(t <= 1.0, 1.5 * t3 - 2.5 * t2 + 1.0,
                            -0.5 * t3 + 2.5 * t2 - 4.0 * t + 2.0)

        return w
    if kernel == "bspline":

        def w(o, d):
            t = np.abs(o - d)
            t2, t3 = t * t, t * t * t
            two_t = 2.0 - t
            return np.where(t <= 1.0, (4.0 - 6.0 * t2 + 3.0 * t3) / 6.0,
                            two_t * two_t * two_t / 6.0)

        return w
    if kernel == "lanczos":

        def w(o, d):
            t = np.abs(o - d)
            pit = math.pi * t
            pita = pit / float(a)
            with np.errstate(invalid="ignore", divide="ignore"):
                sinc = np.where(t == 0.0, 1.0, np.sin(pit) / pit)
                sinca = np.where(t == 0.0, 1.0, np.sin(pita) / pita)
            return np.where(t < float(a), sinc * sinca, 0.0)

        return w
    raise ValueError(f"unknown resampling kernel {kernel!r}")


def _kernel_offsets_wfun(kernel: str, a: int = 3):
    """(neighbor offsets, weight-Column function w(o, d)) for a named
    separable kernel, o the offset and d the fractional index Column.
    bilinear = GDAL 'bilinear' (2x2: d at offset 1, 1 - d at offset 0
    — not 1 - |o - d|, which rounds differently); catmull = GDAL
    'cubic' (a = -0.5 Catmull-Rom, 4x4); bspline = GDAL 'cubicspline'
    (approximating cubic B-spline basis, 4x4); lanczos = GDAL
    'lanczos' (a=3 windowed sinc, 6x6).  The last three weigh the
    distance |o - d|."""
    if kernel == "bilinear":
        return (0, 1), lambda o, d: F.when(o == 1, d).otherwise(1.0 - d)
    if kernel in ("catmull", "bspline"):

        def catmull(o, d):
            t = F.abs(o - d)
            t2, t3 = t * t, t * t * t
            return (
                F.when(t <= 1.0, F.lit(1.5) * t3 - F.lit(2.5) * t2 + F.lit(1.0))
                .otherwise(F.lit(-0.5) * t3 + F.lit(2.5) * t2 - F.lit(4.0) * t
                           + F.lit(2.0))
            )

        def bspline(o, d):
            t = F.abs(o - d)
            t2, t3 = t * t, t * t * t
            two_t = F.lit(2.0) - t
            return (
                F.when(t <= 1.0,
                       (F.lit(4.0) - F.lit(6.0) * t2 + F.lit(3.0) * t3) / F.lit(6.0))
                .otherwise(two_t * two_t * two_t / F.lit(6.0))
            )

        return (-1, 0, 1, 2), (catmull if kernel == "catmull" else bspline)
    if kernel == "lanczos":

        def lanc(o, d):
            t = F.abs(o - d)
            pit = F.lit(math.pi) * t
            sinc = F.when(t == 0.0, F.lit(1.0)).otherwise(F.sin(pit) / pit)
            pita = pit / F.lit(float(a))
            sinca = F.when(t == 0.0, F.lit(1.0)).otherwise(F.sin(pita) / pita)
            return F.when(t < float(a), sinc * sinca).otherwise(F.lit(0.0))

        return tuple(range(1 - a, a + 1)), lanc
    raise ValueError(f"unknown resampling kernel {kernel!r}")


def _mass_ok(kernel: str, den):
    """The NULL guard on the weight mass Σw of a target's valid
    corners.  Bilinear weights are non-negative, so any positive mass
    renormalizes (a valid corner can carry weight exactly 0 after
    quantization: NULL, as the numpy oracle's den > 0 rule and
    DuckDB's NULL-on-/0).  Catmull-Rom and Lanczos have NEGATIVE lobes:
    when nodata strips the positive mass the renormalized value blows
    up, so |Σw| < 0.05 emits NULL (no reliable estimate)."""
    return den > 0 if kernel == "bilinear" else F.abs(den) >= 0.05


def _kernel_corners(target: DataFrame, u, v, kernel: str,
                    a: int = 3) -> DataFrame:
    """Target lattice → the k×k kernel neighborhood with separable
    convolution weights: (trow, tcol, row, col, wgt), k² rows per
    target cell.  The corner lattice of the pixel-join plan
    (`_kernel_gather`); the tile plan (`_kernel_gather_tiles`) spells
    the same row/col/wgt arithmetic in numpy."""
    offs, wfun = _kernel_offsets_wfun(kernel, a)
    tgt = target.select(
        "trow", "tcol",
        F.floor(u).cast("long").alias("r0"), (u - F.floor(u)).alias("du"),
        F.floor(v).cast("long").alias("c0"), (v - F.floor(v)).alias("dv"),
    )
    return tgt.select(
        "trow", "tcol", "r0", "c0", "du", "dv",
        F.explode(F.array(*[F.struct(F.lit(i).alias("a"), F.lit(j).alias("b"))
                            for i in offs for j in offs])).alias("o"),
    ).select(
        "trow", "tcol",
        (F.col("r0") + F.col("o.a")).alias("row"),
        (F.col("c0") + F.col("o.b")).alias("col"),
        (wfun(F.col("o.a"), F.col("du"))
         * wfun(F.col("o.b"), F.col("dv"))).alias("wgt"),
    )


def _no_tiles(left):
    """Zero (num, den, n) partials for a cogroup group no stored tile
    reaches: every target in it comes back NULL.  Targets whose source
    coordinate projected to NULL (non-finite) land here too — their
    block key is NULL, which no tile has."""
    z = np.zeros(len(left))
    return pd.DataFrame({"trow": left["trow"].to_numpy(np.int64),
                         "tcol": left["tcol"].to_numpy(np.int64),
                         "num": z, "den": z, "n": z.astype(np.int64)})


def _kernel_gather_tiles(images: DataFrame, target: DataFrame, u, v,
                         kernel: str, a: int = 3,
                         n_targets: int | None = None,
                         src_shape: tuple[int, int] | None = None
                         ) -> DataFrame:
    """Tile-cogrouped separable-kernel gather (bilinear, cubic,
    cubicspline, lanczos) with the weight-mass NULL guard of
    ``_kernel_gather``; masked / out-of-range corners are excluded from
    both the weighted sum and the weight mass, reproducing the
    pixel-join renormalization exactly (pytest-pinned equivalence).

    r7 fused plan: the k²-corner explode does not happen BEFORE the
    exchange.  The un-exploded target frame (r0, c0, du, dv) shuffles
    once keyed by tile superblock; each task assembles its block
    window plus a (lead, trail)-cell halo from the replicated
    edge-neighbor tiles (tile BYTES move, not corner rows) and
    resolves all k² corners in numpy with the numpy twin of the kernel
    weight function (`_kernel_wfun_np`).  The k²·M corner shuffle, both
    of its Arrow crossings and the (trow, tcol) re-aggregation
    exchange disappear; the mass guard (``_mass_ok``) and 6-dp rounding
    stay in the JVM on the kernel's (num, den, n) partials.
    ``n_targets`` / ``src_shape`` size the superblocks (scaled by k²/4,
    so per-task gather work matches a 2x2 bilinear block's)."""
    from ..sources import codec as _codec

    offs, _ = _kernel_offsets_wfun(kernel, a)
    wfun = _kernel_wfun_np(kernel, a)
    lead, trail = -min(offs), max(offs)
    k2 = len(offs) * len(offs)
    t_h, t_w = _tile_shape(images, None, "kernel tiles plan")
    if lead > min(t_h, t_w) or trail > min(t_h, t_w):
        # the ±1-block halo replication only reaches one tile past a
        # block edge; a kernel wider than a tile would silently drop
        # contributions — refuse loudly (use the px-join plan instead)
        raise ValueError(
            f"kernel tiles plan: kernel half-width ({lead}/{trail}) must "
            f"not exceed the tile side ({t_h}x{t_w}); pass px= instead "
            "of images= for kernels this wide")
    block = _superblock(
        None if n_targets is None else n_targets * k2 // 4,
        src_shape, t_h, t_w)
    b_h, b_w = block * t_h, block * t_w
    frac = target.select(
        "trow", "tcol",
        F.floor(u).cast("long").alias("r0"), (u - F.floor(u)).alias("du"),
        F.floor(v).cast("long").alias("c0"), (v - F.floor(v)).alias("dv"),
    ).select(
        "*",
        F.floor(F.col("r0") / F.lit(b_h)).cast("long").alias("_tr"),
        F.floor(F.col("c0") / F.lit(b_w)).cast("long").alias("_tc"),
    )
    # a stored tile feeds its own block, the PREVIOUS block when it
    # sits on its block's top/left edge and the kernel has a trailing
    # halo (which it supplies), and the NEXT block when it sits on the
    # bottom/right edge and the kernel has a leading halo; lead/trail
    # <= tile side, so ±1 block suffices (bilinear, lead 0, ships no
    # tile forward).  No _tr/_tc >= 0 filter — a target whose top-left
    # corner index is negative (upsampling at the grid's top/left edge)
    # keys to block -1, and the row-0/col-0 tiles must reach that task
    # as halo so the in-range corners renormalize like the pixel plan.
    shifts = F.array(*[F.lit(d) for d in
                       (0, *((-1,) if trail else ()), *((1,) if lead else ()))])

    def _edge(axis_col, d):
        return ((d == 0)
                | ((d == -1) & (F.col(axis_col) % block == 0))
                | ((d == 1) & (F.col(axis_col) % block == block - 1)))

    rep = (images
           .select(F.col("tile_row").cast("long").alias("tile_row"),
                   F.col("tile_col").cast("long").alias("tile_col"),
                   "bytes", "fmt", "w", "h", "ndv")
           .withColumn("_da", F.explode(shifts))
           .withColumn("_db", F.explode(shifts))
           .filter(_edge("tile_row", F.col("_da"))
                   & _edge("tile_col", F.col("_db")))
           .select((F.floor(F.col("tile_row") / block).cast("long")
                    + F.col("_da")).alias("_tr"),
                   (F.floor(F.col("tile_col") / block).cast("long")
                    + F.col("_db")).alias("_tc"),
                   "tile_row", "tile_col", "bytes", "fmt", "w", "h", "ndv"))

    H, Wn = b_h + lead + trail, b_w + lead + trail

    def kernel_fn(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if not len(right):
            return _no_tiles(left)
        _check_tiles(right, t_h, t_w, "kernel tiles plan")
        base_r = int(key[0]) * b_h - lead
        base_c = int(key[1]) * b_w - lead
        win = np.full((H, Wn), np.nan)
        for t in right.itertuples(index=False):
            t_ndv = float(t.ndv)
            arr = _codec.decode_tile(bytes(t.bytes), t.fmt, t_w, t_h, t_ndv)
            gr0 = int(t.tile_row) * t_h
            gc0 = int(t.tile_col) * t_w
            r_lo, r_hi = max(gr0, base_r), min(gr0 + t_h, base_r + H)
            c_lo, c_hi = max(gc0, base_c), min(gc0 + t_w, base_c + Wn)
            if r_lo < r_hi and c_lo < c_hi:
                sub = arr[r_lo - gr0:r_hi - gr0,
                          c_lo - gc0:c_hi - gc0].astype(np.float64)
                sub = np.where(sub == t_ndv, np.nan, sub)
                win[r_lo - base_r:r_hi - base_r,
                    c_lo - base_c:c_hi - base_c] = sub
        r0l = left["r0"].to_numpy(np.int64) - base_r
        c0l = left["c0"].to_numpy(np.int64) - base_c
        du = left["du"].to_numpy(np.float64)
        dv = left["dv"].to_numpy(np.float64)
        wb_by_off = {ob: wfun(ob, dv) for ob in offs}
        num = np.zeros(len(left))
        den = np.zeros(len(left))
        n = np.zeros(len(left), np.int64)
        for oa in offs:
            wa = wfun(oa, du)
            for ob in offs:
                vv = win[r0l + oa, c0l + ob]
                ok = ~np.isnan(vv)
                wgt = wa * wb_by_off[ob]
                num[ok] += wgt[ok] * vv[ok]
                den[ok] += wgt[ok]
                n[ok] += 1
        return pd.DataFrame({
            "trow": left["trow"].to_numpy(np.int64),
            "tcol": left["tcol"].to_numpy(np.int64),
            "num": num, "den": den, "n": n,
        })

    g = (frac.groupBy("_tr", "_tc")
         .cogroup(rep.groupBy("_tr", "_tc"))
         .applyInPandas(kernel_fn, schema="trow long, tcol long, num double, "
                                          "den double, n long"))
    return g.select(
        "trow", "tcol",
        F.when(_mass_ok(kernel, F.col("den")),
               F.round(F.col("num") / F.col("den"), 6)).alias("value"),
        # NULL (not 0) when no corner was valid — matches the pixel
        # plan's left join against the inner-join aggregate
        F.when(F.col("n") > 0, F.col("n")).cast("long").alias("n_contrib"),
    )


def _kernel_gather(px: DataFrame, target: DataFrame, u, v,
                   kernel: str, a: int = 3) -> DataFrame:
    """Shared nodata-aware separable-kernel gather (bilinear, cubic,
    cubicspline, lanczos), target-CRS-AGNOSTIC: the caller supplies
    the target lattice (trow, tcol) plus fractional CENTER-based
    source index Columns u (row) and v (col); the kernel's
    neighborhood explodes out, equi-joins the pixel table, masked
    neighbors drop out of the join and the weight mass renormalizes
    over the valid ones (GDAL nodata-aware resampling), NULL where
    ``_mass_ok`` fails.  Pure DataFrame ops: explode(k²) + equi-join +
    groupBy — no UDF."""
    corners = _kernel_corners(target, u, v, kernel, a)
    j = corners.join(px.select("row", "col", "value"), ["row", "col"])
    out = j.groupBy("trow", "tcol").agg(
        F.when(
            _mass_ok(kernel, F.sum("wgt")),
            F.round(F.sum(F.col("wgt") * F.col("value")) / F.sum("wgt"), 6),
        ).alias("value"),
        F.count(F.lit(1)).cast("long").alias("n_contrib"),
    )
    return target.select("trow", "tcol").join(out, ["trow", "tcol"], "left")


_SPLINE_POLE = math.sqrt(3.0) - 2.0  # Unser's cubic B-spline pole


def spline_filter1d_mirror(a: np.ndarray) -> np.ndarray:
    """EXACT cubic B-spline prefilter along a 1-D line, mirror
    (whole-sample symmetric, period 2n-2) boundary — Unser's recursive
    filter (pole z = sqrt(3)-2, gain 6) with the exact geometric-sum
    causal init, not the truncated one.  After this, evaluating the
    B-spline basis at integer points reproduces the input samples:
    (c[i-1] + 4 c[i] + c[i+1]) / 6 == a[i].  This is the prefilter
    skimage.transform.resize(order=3) applies (the reference's resize
    delegate, georasters.py:1095-1139)."""
    a = np.asarray(a, dtype=np.float64)
    n = a.shape[0]
    if n == 1:
        return a.copy()
    z = _SPLINE_POLE
    c = a * 6.0
    # causal init: c+[0] = sum_{k>=0} z^k a_ext[-k] over the mirrored
    # period, summed in closed form
    p = 2 * n - 2
    zk = z ** np.arange(1, n - 1, dtype=np.float64)
    zk2 = z ** np.arange(p - 1, n - 1, -1, dtype=np.float64)
    c0 = (c[0] + (z ** (n - 1)) * c[n - 1] + ((zk + zk2) * c[1 : n - 1]).sum()) \
        / (1.0 - z ** p)
    cp = np.empty(n, dtype=np.float64)
    cp[0] = c0
    for k in range(1, n):
        cp[k] = c[k] + z * cp[k - 1]
    out = np.empty(n, dtype=np.float64)
    out[n - 1] = (z / (z * z - 1.0)) * (z * cp[n - 2] + cp[n - 1])
    for k in range(n - 2, -1, -1):
        out[k] = z * (out[k + 1] - cp[k])
    return out


def spline_filter_matrix(n: int) -> np.ndarray:
    """(n, n) dense matrix M with M @ a == spline_filter1d_mirror(a)
    (up to float-linearity reassociation): each column is the filter
    run on a basis vector.  Used by the SQL oracle to re-derive the
    prefilter as literal weights — the IIR recursion itself is not
    SQL-expressible."""
    m = np.empty((n, n), dtype=np.float64)
    for k in range(n):
        e = np.zeros(n, dtype=np.float64)
        e[k] = 1.0
        m[:, k] = spline_filter1d_mirror(e)
    return m


def spline_prefilter_px(px: DataFrame, src_shape: tuple[int, int]) -> DataFrame:
    """Distributed 2-D cubic B-spline prefilter over a DENSE pixel
    grid: two grouped-map stages — filter along columns within each
    row, then along rows within each column.  Lines are independent,
    so parallelism is min(h, w) per stage no matter the grid size; the
    only shuffles are the two groupBy exchanges (row, then col).  The
    IIR recursion has no nodata semantics (neither does skimage's
    order-3); a row/column with missing cells raises."""
    import pandas as pd

    h, w = src_shape

    def _line(key_col: str, sort_col: str, n: int):
        def f(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(sort_col)
            if len(pdf) != n or pdf[sort_col].iloc[0] != 0 \
                    or pdf[sort_col].iloc[-1] != n - 1:
                raise ValueError(
                    f"spline_prefilter_px: non-dense {key_col} line "
                    f"(got {len(pdf)} of {n} cells)")
            pdf = pdf.copy()
            pdf["value"] = spline_filter1d_mirror(pdf["value"].to_numpy())
            return pdf
        return f

    cols = px.select("row", "col", F.col("value").cast("double").alias("value"))
    schema = "row long, col long, value double"
    pass1 = cols.groupBy("row").applyInPandas(_line("row", "col", w), schema)
    return pass1.groupBy("col").applyInPandas(_line("col", "row", h), schema)


def _mirror_idx(idx, n: int):
    """Mirror an integer index Column into [0, n) with period 2n-2
    (whole-sample symmetric — skimage/scipy mode 'mirror')."""
    if n == 1:
        return F.lit(0).cast("long")
    p = 2 * n - 2
    m = F.pmod(idx, F.lit(p))
    return F.when(m < n, m).otherwise(F.lit(p) - m).cast("long")


def _kernel_gather_spline(px: DataFrame, target: DataFrame, u, v,
                          h: int, w: int) -> DataFrame:
    """B-spline evaluation gather with MIRROR edge indexing and no
    weight renormalization: the 16 basis weights always sum to 1 and
    the coefficients already encode interpolation, so value =
    Σ w·c exactly (matching skimage's reflecting warp, unlike the
    nodata-renormalizing _kernel_gather)."""
    # the shared corner lattice, with row/col wrapped into [0, n) by the
    # mirror rule (only the indexing differs from the renormalizing plans)
    corners = _kernel_corners(target, u, v, "bspline").select(
        "trow", "tcol",
        _mirror_idx(F.col("row"), h).alias("row"),
        _mirror_idx(F.col("col"), w).alias("col"),
        "wgt",
    )
    j = corners.join(px.select("row", "col", "value"), ["row", "col"])
    # + 0.0 turns a -0.0 residue into +0.0 (x + 0.0 == x otherwise), the
    # same normalization as the DuckDB oracle's ROUND(...) + 0.0
    return j.groupBy("trow", "tcol").agg(
        (F.round(F.sum(F.col("wgt") * F.col("value")), 6) + F.lit(0.0))
        .alias("value"),
        F.count(F.lit(1)).cast("long").alias("n_contrib"),
    )


def resize_grid(px: DataFrame, src_shape: tuple[int, int],
                out_shape: tuple[int, int], order: int = 0,
                prefilter: bool = True) -> DataFrame:
    """Reference resize(shape, order=) (georasters.py:1095-1139 passes
    order through to skimage.transform.resize). order=0: center-rule
    nearest gather (the reference default). order=1: bilinear on the
    identity grid — skimage's (t+0.5)·scale−0.5 coordinate map with
    GDAL-style nodata-aware weight renormalization at masked cells and
    edges (skimage instead reflects at edges; divergence documented).
    order=3 (prefilter=True, the default): skimage-parity
    interpolating cubic spline — the distributed Unser IIR prefilter
    (spline_prefilter_px) then B-spline basis evaluation with mirror
    edges; requires a dense grid, like skimage.  order=3 with
    prefilter=False: the GDAL 'cubic' Catmull-Rom kernel with
    nodata-aware renormalization (the pre-r6 behavior, kept for
    nodata-bearing grids).  Other orders refuse loudly."""
    spark = px.sparkSession
    h, w = src_shape
    th, tw = out_shape
    target = (
        spark.range(th)
        .select(F.col("id").alias("trow"))
        .crossJoin(spark.range(tw).select(F.col("id").alias("tcol")))
    )
    if order == 0:
        tgt = target.select(
            "trow", "tcol",
            F.expr(f"((2 * trow + 1) * {h}) DIV (2 * {th})").alias("row"),
            F.expr(f"((2 * tcol + 1) * {w}) DIV (2 * {tw})").alias("col"),
        )
        return tgt.join(px.select("row", "col", "value"),
                        ["row", "col"], "left").select("trow", "tcol", "value")
    lat = (F.col("trow") + F.lit(0.5)) * F.lit(h / th)
    lon = (F.col("tcol") + F.lit(0.5)) * F.lit(w / tw)
    u = F.round((lat - F.lit(0.0)) / F.lit(1.0) - F.lit(0.5), _Q)
    v = F.round((lon - F.lit(0.0)) / F.lit(1.0) - F.lit(0.5), _Q)
    if order == 1:
        return _kernel_gather(px, target, u, v, "bilinear")
    if order == 3:
        if prefilter:
            coef = spline_prefilter_px(px, src_shape)
            out = _kernel_gather_spline(coef, target, u, v, h, w)
            return target.select("trow", "tcol").join(
                out, ["trow", "tcol"], "left")
        return _kernel_gather(px, target, u, v, "catmull")
    raise NotImplementedError(
        "resize order must be 0 (nearest), 1 (bilinear) or 3 (cubic)")


def kernel_weight_sql(kernel: str, t: str, a: int = 3) -> str:
    """DuckDB SQL for the _kernel_offsets_wfun weight of distance
    expression `t`, emitted with the SAME multiply pairing as the
    Column expressions (t3 = (t*t)*t etc.) so both engines compute the
    identical float sequence."""
    if kernel == "catmull":
        t2 = f"({t} * {t})"
        t3 = f"(({t} * {t}) * {t})"
        return (f"CASE WHEN {t} <= 1.0 THEN 1.5 * {t3} - 2.5 * {t2} + 1.0 "
                f"ELSE -0.5 * {t3} + 2.5 * {t2} - 4.0 * {t} + 2.0 END")
    if kernel == "bspline":
        t2 = f"({t} * {t})"
        t3 = f"(({t} * {t}) * {t})"
        tt = f"(2.0 - {t})"
        return (f"CASE WHEN {t} <= 1.0 "
                f"THEN (4.0 - 6.0 * {t2} + 3.0 * {t3}) / 6.0 "
                f"ELSE {tt} * {tt} * {tt} / 6.0 END")
    if kernel == "lanczos":
        pi_l = dlit(math.pi)
        pit = f"({pi_l} * {t})"
        pita = f"({pit} / {dlit(float(a))})"
        sinc = f"CASE WHEN {t} = 0.0 THEN 1.0 ELSE sin({pit}) / {pit} END"
        sinca = f"CASE WHEN {t} = 0.0 THEN 1.0 ELSE sin({pita}) / {pita} END"
        return (f"CASE WHEN {t} < {dlit(float(a))} "
                f"THEN ({sinc}) * ({sinca}) ELSE 0.0 END")
    raise ValueError(f"unknown resampling kernel {kernel!r}")


def kernel_offsets(kernel: str, a: int = 3) -> tuple:
    """Neighbor offsets for a kernel name (shared by the SQL gates)."""
    return _kernel_offsets_wfun(kernel, a)[0]


def _bucket_agg(binned: DataFrame, how: str) -> DataFrame:
    """Shared per-target-cell aggregate for the GDAL average-family
    warp (average/sum/min/max/count/mode/rms/med/q1/q3 — the complete
    gdalwarp -r aggregate family): `binned` holds
    (trow, tcol, value) rows of forward-projected source centers.
    One grouped aggregate; map-side partials make it shuffle-light.
    mode uses a two-level count + max_by with a smallest-value
    tie-break (deterministic, unlike F.mode). Only non-empty target
    cells are emitted (GDAL leaves the rest nodata)."""
    if how == "mode":
        per_val = binned.groupBy("trow", "tcol", "value").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        return per_val.groupBy("trow", "tcol").agg(
            F.expr("max_by(value, struct(cnt, -value))").alias("value"),
            F.sum("cnt").cast("long").alias("n_contrib"),
        )
    aggs = {
        "mean": F.round(F.sum("value") / F.count("value"), 6),
        "sum": F.sum("value"),
        "min": F.min("value"),
        "max": F.max("value"),
        "count": F.count("value").cast("long"),
        # GDAL's quartile family (gdalwarp -r rms/med/q1/q3): rms from
        # the exact integer sum of squares; med/q1/q3 by the standard
        # linear-interpolated quantile (Spark percentile == DuckDB
        # quantile_cont on integer inputs)
        "rms": F.round(F.sqrt(F.sum(F.col("value") * F.col("value"))
                              / F.count("value")), 6),
        "med": F.round(F.median("value"), 6),
        "q1": F.round(F.percentile("value", F.lit(0.25)), 6),
        "q3": F.round(F.percentile("value", F.lit(0.75)), 6),
    }
    if how not in aggs:
        raise ValueError(f"unknown resampling aggregate {how!r}")
    return binned.groupBy("trow", "tcol").agg(
        aggs[how].alias("value"),
        F.count("value").cast("long").alias("n_contrib"),
    )


# ---------------------------------------------------------------------------
# UTM / transverse Mercator (EPSG:326xx / 327xx, +proj=utm) — the
# ellipsoidal Krüger series (4th order in the third flattening n; the
# standard public formulation, e.g. Karney 2011 "Transverse Mercator
# with an accuracy of a few nanometers" §3 / the classic Krüger 1912
# series). Truncation error at 4th order is sub-millimeter inside a UTM
# zone. The reference reaches these CRSs through GDAL
# (georasters.py:559-667); here both directions are closed-form series
# in numpy that reproject_any composes (crs_funcs 'utm:'/'tmd:'): the
# forward gives the driver-side target bounds, the inverse runs in one
# Arrow pass over the target lattice. The series diverges past ~±40° of
# the central meridian, so any_bounds refuses such extents.
# tm_inverse_sql is the independent DuckDB check.
# ---------------------------------------------------------------------------

_WGS84_A = 6378137.0
_WGS84_F = 1.0 / 298.257223563
_UTM_K0 = 0.9996
_UTM_FE = 500000.0


def _tm_series(f: float = _WGS84_F, a: float = _WGS84_A):
    """Krüger-series constants for an ellipsoid with flattening f and
    semi-major axis a: rectifying radius A and the alpha (forward),
    beta (inverse series), delta (conformal->geographic latitude)
    coefficient triples."""
    n = f / (2.0 - f)
    n2, n3, n4 = n * n, n ** 3, n ** 4
    A = a / (1 + n) * (1 + n2 / 4 + n4 / 64)
    alpha = (
        n / 2 - 2 * n2 / 3 + 5 * n3 / 16 + 41 * n4 / 180,
        13 * n2 / 48 - 3 * n3 / 5 + 557 * n4 / 1440,
        61 * n3 / 240 - 103 * n4 / 140,
        49561 * n4 / 161280,
    )
    beta = (
        n / 2 - 2 * n2 / 3 + 37 * n3 / 96 - n4 / 360,
        n2 / 48 + n3 / 15 - 437 * n4 / 1440,
        17 * n3 / 480 - 37 * n4 / 840,
        4397 * n4 / 161280,
    )
    delta = (
        2 * n - 2 * n2 / 3 - 2 * n3 + 116 * n4 / 45,
        7 * n2 / 3 - 8 * n3 / 5 - 227 * n4 / 45,
        56 * n3 / 15 - 136 * n4 / 35,
        4279 * n4 / 630,
    )
    return n, A, alpha, beta, delta


def utm_lon0(zone: int) -> float:
    return zone * 6.0 - 183.0


def tm_forward_np(lon, lat, lon0: float, k0: float = _UTM_K0,
                  fe: float = _UTM_FE, fn: float = 0.0, f: float = _WGS84_F,
                  a: float = _WGS84_A):
    """Ellipsoidal transverse-Mercator forward (numpy): (lon, lat)
    degrees -> (E, N) meters."""
    n, A, alpha, _, _ = _tm_series(f, a)
    lam = np.radians(np.asarray(lon, dtype=np.float64) - lon0)
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    es = 2.0 * math.sqrt(n) / (1.0 + n)
    sphi = np.sin(phi)
    t = np.sinh(np.arctanh(sphi) - es * np.arctanh(es * sphi))
    xip = np.arctan2(t, np.cos(lam))
    etap = np.arctanh(np.sin(lam) / np.sqrt(1.0 + t * t))
    xi = xip.copy()
    eta = etap.copy()
    for j, a in enumerate(alpha, 1):
        xi = xi + a * np.sin(2 * j * xip) * np.cosh(2 * j * etap)
        eta = eta + a * np.cos(2 * j * xip) * np.sinh(2 * j * etap)
    return fe + k0 * A * eta, fn + k0 * A * xi


def tm_inverse_np(E, N, lon0: float, k0: float = _UTM_K0,
                  fe: float = _UTM_FE, fn: float = 0.0, f: float = _WGS84_F,
                  a: float = _WGS84_A):
    """Ellipsoidal transverse-Mercator inverse (numpy):
    (E, N) meters -> (lon, lat) degrees."""
    n, A, _, beta, delta = _tm_series(f, a)
    xi = (np.asarray(N, dtype=np.float64) - fn) / (k0 * A)
    eta = (np.asarray(E, dtype=np.float64) - fe) / (k0 * A)
    xip = xi.copy()
    etap = eta.copy()
    for j, b in enumerate(beta, 1):
        xip = xip - b * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
        etap = etap - b * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
    chi = np.arcsin(np.sin(xip) / np.cosh(etap))
    phi = chi.copy()
    for j, d in enumerate(delta, 1):
        phi = phi + d * np.sin(2 * j * chi)
    lam = np.arctan2(np.sinh(etap), np.cos(xip))
    return np.degrees(lam) + lon0, np.degrees(phi)


def tm_inverse_sql(e_expr: str, n_expr: str, lon0: float, k0: float = _UTM_K0,
                   fe: float = _UTM_FE, fn: float = 0.0,
                   f: float = _WGS84_F,
                   a: float = _WGS84_A) -> tuple[str, str, str]:
    """DuckDB SQL for the same inverse, emitted term-for-term in the
    tm_inverse_np order. Returns (cte_sql, lon_col, lat_col): a CTE
    chain computing lon/lat from columns e_expr/n_expr of table `tgt`
    (intermediate CTEs carry trow/tcol through)."""
    n, A, _, beta, delta = _tm_series(f, a)

    # DuckDB has no sinh/cosh — spell them with exp. The downstream
    # gather quantizes u before floor, so the ulp-level difference vs
    # numpy's sinh/cosh is absorbed like every other trig difference.
    def cosh_s(y: str) -> str:
        return f"((exp({y}) + exp(-({y}))) / 2.0)"

    def sinh_s(y: str) -> str:
        return f"((exp({y}) - exp(-({y}))) / 2.0)"

    xi = f"(({n_expr}) - {dlit(fn)}) / {dlit(k0 * A)}"
    eta = f"(({e_expr}) - {dlit(fe)}) / {dlit(k0 * A)}"
    xip_terms = "xi" + "".join(
        f" - {dlit(b)} * sin({dlit(float(2 * j))} * xi) * "
        + cosh_s(f"{dlit(float(2 * j))} * eta")
        for j, b in enumerate(beta, 1)
    )
    etap_terms = "eta" + "".join(
        f" - {dlit(b)} * cos({dlit(float(2 * j))} * xi) * "
        + sinh_s(f"{dlit(float(2 * j))} * eta")
        for j, b in enumerate(beta, 1)
    )
    phi_terms = "chi" + "".join(
        f" + {dlit(d)} * sin({dlit(float(2 * j))} * chi)"
        for j, d in enumerate(delta, 1)
    )
    cte = f"""t1 AS (SELECT trow, tcol, em, nm, {xi} AS xi, {eta} AS eta FROM tgt),
t2 AS (SELECT trow, tcol, em, nm, {xip_terms} AS xip, {etap_terms} AS etap FROM t1),
t3 AS (SELECT trow, tcol, em, nm, xip, etap, asin(sin(xip) / {cosh_s('etap')}) AS chi FROM t2),
loc0 AS (SELECT trow, tcol, em, nm,
                atan2({sinh_s('etap')}, cos(xip)) * 180.0 / pi() + {dlit(lon0)} AS lon,
                ({phi_terms}) * 180.0 / pi() AS lat
         FROM t3)"""
    return cte, "lon", "lat"


# ---------------------------------------------------------------------------
# Conic targets: Albers equal-area (+proj=aea, e.g. EPSG:5070 CONUS)
# and Lambert conformal conic (+proj=lcc, e.g. EPSG:2154 Lambert-93) —
# ellipsoidal closed forms from the public Snyder formulary (USGS
# Professional Paper 1395, "Map Projections: A Working Manual").
# Both inverses are NON-iterative: AEA converts authalic latitude with
# the sin(2kβ) series, LCC converts conformal latitude with the
# sin(2kχ) series — so the warp is reproject_any's inverse gather, the
# inverse run as numpy in one Arrow pass and checked by the DuckDB SQL
# twin (reference reproject role:
# georasters.py:559-667; these CRSs are what GDAL users actually name
# for regional equal-area / conformal work).
# ---------------------------------------------------------------------------

_GRS80_F = 1.0 / 298.257222101
_GRS80_E2 = _GRS80_F * (2.0 - _GRS80_F)


def _conic_m(phi: float, e2: float) -> float:
    return math.cos(phi) / math.sqrt(1.0 - e2 * math.sin(phi) ** 2)


def _conic_q(phi: float, e2: float) -> float:
    e = math.sqrt(e2)
    s = math.sin(phi)
    return (1.0 - e2) * (
        s / (1.0 - e2 * s * s) - (1.0 / (2.0 * e)) * math.log((1.0 - e * s) / (1.0 + e * s))
    )


def _conic_t(phi: float, e2: float) -> float:
    e = math.sqrt(e2)
    s = math.sin(phi)
    return math.tan(math.pi / 4.0 - phi / 2.0) / (
        (1.0 - e * s) / (1.0 + e * s)
    ) ** (e / 2.0)


def aea_setup(lat1: float, lat2: float, lat0: float = 0.0, lon0: float = 0.0,
              fe: float = 0.0, fn: float = 0.0, a: float = _WGS84_A,
              e2: float = _GRS80_E2) -> dict:
    """Fold the Albers constants (Snyder 14-3..14-7) plus the
    authalic-latitude series coefficients (Snyder 3-18)."""
    p1, p2, p0 = map(math.radians, (lat1, lat2, lat0))
    m1, m2 = _conic_m(p1, e2), _conic_m(p2, e2)
    q1, q2, q0 = _conic_q(p1, e2), _conic_q(p2, e2), _conic_q(p0, e2)
    if abs(q2 - q1) < 1e-12:  # single standard parallel limit
        n = math.sin(p1)
    else:
        n = (m1 * m1 - m2 * m2) / (q2 - q1)
    C = m1 * m1 + n * q1
    rho0 = a * math.sqrt(C - n * q0) / n
    qp = _conic_q(math.pi / 2.0, e2)
    e4, e6 = e2 * e2, e2 * e2 * e2
    return {
        "kind": "aea", "a": a, "e2": e2, "n": n, "C": C, "rho0": rho0,
        "qp": qp, "lon0": lon0, "fe": fe, "fn": fn,
        "sgn": 1.0 if n >= 0 else -1.0,
        "A2": e2 / 3.0 + 31.0 * e4 / 180.0 + 517.0 * e6 / 5040.0,
        "A4": 23.0 * e4 / 360.0 + 251.0 * e6 / 3780.0,
        "A6": 761.0 * e6 / 45360.0,
    }


def lcc_setup(lat1: float, lat2: float, lat0: float = 0.0, lon0: float = 0.0,
              fe: float = 0.0, fn: float = 0.0, a: float = _WGS84_A,
              e2: float = _GRS80_E2) -> dict:
    """Fold the LCC-2SP constants (Snyder 15-1..15-10) plus the
    conformal-latitude series coefficients (Snyder 3-5)."""
    p1, p2, p0 = map(math.radians, (lat1, lat2, lat0))
    m1, m2 = _conic_m(p1, e2), _conic_m(p2, e2)
    t1, t2, t0 = _conic_t(p1, e2), _conic_t(p2, e2), _conic_t(p0, e2)
    if abs(lat1 - lat2) < 1e-12:
        n = math.sin(p1)
    else:
        n = (math.log(m1) - math.log(m2)) / (math.log(t1) - math.log(t2))
    Fc = m1 / (n * t1**n)
    rho0 = a * Fc * t0**n
    e4, e6, e8 = e2 * e2, e2**3, e2**4
    return {
        "kind": "lcc", "a": a, "e2": e2, "n": n, "Fc": Fc, "rho0": rho0,
        "lon0": lon0, "fe": fe, "fn": fn,
        "sgn": 1.0 if n >= 0 else -1.0,
        "B2": e2 / 2.0 + 5.0 * e4 / 24.0 + e6 / 12.0 + 13.0 * e8 / 360.0,
        "B4": 7.0 * e4 / 48.0 + 29.0 * e6 / 240.0 + 811.0 * e8 / 11520.0,
        "B6": 7.0 * e6 / 120.0 + 81.0 * e8 / 1120.0,
        "B8": 4279.0 * e8 / 161280.0,
    }


def conic_forward_np(lon, lat, P: dict):
    """Forward projection (numpy), degrees -> meters, for either conic."""
    lam = np.radians(np.asarray(lon, dtype=np.float64) - P["lon0"])
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    n, a = P["n"], P["a"]
    theta = n * lam
    if P["kind"] == "aea":
        e = math.sqrt(P["e2"])
        s = np.sin(phi)
        q = (1.0 - P["e2"]) * (
            s / (1.0 - P["e2"] * s * s)
            - (1.0 / (2.0 * e)) * np.log((1.0 - e * s) / (1.0 + e * s))
        )
        rho = a * np.sqrt(np.maximum(P["C"] - n * q, 0.0)) / n
    else:
        e = math.sqrt(P["e2"])
        s = np.sin(phi)
        t = np.tan(math.pi / 4.0 - phi / 2.0) / (
            (1.0 - e * s) / (1.0 + e * s)
        ) ** (e / 2.0)
        rho = a * P["Fc"] * t**n
    x = P["fe"] + rho * np.sin(theta)
    y = P["fn"] + P["rho0"] - rho * np.cos(theta)
    return x, y


def conic_inverse_np(x, y, P: dict):
    """Inverse projection (numpy), meters -> degrees, for either conic."""
    n, a, sgn = P["n"], P["a"], P["sgn"]
    xr = np.asarray(x, dtype=np.float64) - P["fe"]
    yr = P["rho0"] - (np.asarray(y, dtype=np.float64) - P["fn"])
    rho = sgn * np.sqrt(xr * xr + yr * yr)
    theta = np.arctan2(sgn * xr, sgn * yr)
    if P["kind"] == "aea":
        q = (P["C"] - (rho * n / a) ** 2) / n
        beta = np.arcsin(np.clip(q / P["qp"], -1.0, 1.0))
        phi = (beta + P["A2"] * np.sin(2 * beta) + P["A4"] * np.sin(4 * beta)
               + P["A6"] * np.sin(6 * beta))
    else:
        t = (rho / (a * P["Fc"])) ** (1.0 / n)
        chi = math.pi / 2.0 - 2.0 * np.arctan(t)
        phi = (chi + P["B2"] * np.sin(2 * chi) + P["B4"] * np.sin(4 * chi)
               + P["B6"] * np.sin(6 * chi) + P["B8"] * np.sin(8 * chi))
    return np.degrees(theta / n) + P["lon0"], np.degrees(phi)


def conic_inverse_sql(x_expr: str, y_expr: str, P: dict) -> tuple[str, str, str]:
    """DuckDB SQL for the same inverse (gate oracle), emitted
    term-for-term in the conic_inverse_np order. Returns
    (cte_sql, lon_col, lat_col); the CTE chain reads columns
    x_expr/y_expr of table `tgt` and carries trow/tcol/xm/ym through."""
    n, a, sgn = P["n"], P["a"], P["sgn"]
    xr = f"(({x_expr}) - {dlit(P['fe'])})"
    yr = f"({dlit(P['rho0'])} - (({y_expr}) - {dlit(P['fn'])}))"
    rho = f"({dlit(sgn)} * sqrt({xr} * {xr} + {yr} * {yr}))"
    theta = f"atan2({dlit(sgn)} * {xr}, {dlit(sgn)} * {yr})"
    if P["kind"] == "aea":
        q = f"(({dlit(P['C'])} - pow({rho} * {dlit(n)} / {dlit(a)}, 2.0)) / {dlit(n)})"
        beta = f"asin(least(greatest({q} / {dlit(P['qp'])}, -1.0), 1.0))"
        phi = (f"(beta + {dlit(P['A2'])} * sin(2.0 * beta)"
               f" + {dlit(P['A4'])} * sin(4.0 * beta)"
               f" + {dlit(P['A6'])} * sin(6.0 * beta))")
        mid = f"c1 AS (SELECT trow, tcol, xm, ym, {theta} AS theta, {beta} AS beta FROM tgt)"
    else:
        t = f"pow({rho} / {dlit(a * P['Fc'])}, {dlit(1.0 / n)})"
        chi = f"({dlit(math.pi / 2.0)} - 2.0 * atan({t}))"
        phi = (f"(chi + {dlit(P['B2'])} * sin(2.0 * chi)"
               f" + {dlit(P['B4'])} * sin(4.0 * chi)"
               f" + {dlit(P['B6'])} * sin(6.0 * chi)"
               f" + {dlit(P['B8'])} * sin(8.0 * chi))")
        mid = f"c1 AS (SELECT trow, tcol, xm, ym, {theta} AS theta, {chi} AS chi FROM tgt)"
    cte = f"""{mid},
loc0 AS (SELECT trow, tcol, xm, ym,
                theta / {dlit(n)} * 180.0 / pi() + {dlit(P['lon0'])} AS lon,
                {phi} * 180.0 / pi() AS lat
         FROM c1)"""
    return cte, "lon", "lat"


# Public EPSG parameter registry for the supported conic CRSs (all
# GRS80-ellipsoid systems: NAD83 / RGF93 — public EPSG registry values)
CONIC_EPSG = {
    5070: ("aea", dict(lat1=29.5, lat2=45.5, lat0=23.0, lon0=-96.0,
                       fe=0.0, fn=0.0)),            # NAD83 / Conus Albers
    3310: ("aea", dict(lat1=34.0, lat2=40.5, lat0=0.0, lon0=-120.0,
                       fe=0.0, fn=-4000000.0)),     # NAD83 / California Albers
    2154: ("lcc", dict(lat1=49.0, lat2=44.0, lat0=46.5, lon0=3.0,
                       fe=700000.0, fn=6600000.0)),  # RGF93 / Lambert-93
    3978: ("lcc", dict(lat1=49.0, lat2=77.0, lat0=49.0, lon0=-95.0,
                       fe=0.0, fn=0.0)),            # NAD83 / Canada Atlas LCC
}


def conic_params_of(token: str) -> dict:
    """Resolve a parse_crs conic token ('aea:5070' or
    'aea:custom:lat1:lat2:lat0:lon0:fe:fn') to folded parameters."""
    parts = token.split(":")
    kind = parts[0]
    if parts[1] == "custom":
        lat1, lat2, lat0, lon0, fe, fn = map(float, parts[2:8])
        args = dict(lat1=lat1, lat2=lat2, lat0=lat0, lon0=lon0, fe=fe, fn=fn)
    else:
        k, args = CONIC_EPSG[int(parts[1])]
        assert k == kind
    return (aea_setup if kind == "aea" else lcc_setup)(**args)


# ---------------------------------------------------------------------------
# Any-CRS-to-any-CRS warps. The reference accepts arbitrary source AND
# target CRSs (GDAL WarpedVRT, georasters.py:559-667); every family
# this engine supports has closed-form forward AND inverse transforms,
# so a general warp is the composition
#     target cell center --inverse(dst)--> lon/lat --forward(src)--> x,y
# evaluated by the numpy twins in one Arrow pass (_project), followed by
# the same quantized affine gather as everywhere else. Each projection
# has one engine implementation (numpy) and one independent check (the
# DuckDB SQL twins the gate oracles use).
# ---------------------------------------------------------------------------

_D2R = math.pi / 180.0


def crs_funcs(token: str) -> dict:
    """(fwd_np, inv_np) for a parse_crs token.
    fwd: (lon, lat) degrees -> (x, y) CRS units; inv: the reverse.
    wgs84 is the identity (x=lon, y=lat)."""
    if token == "wgs84":
        ident = lambda a, b: (a, b)  # noqa: E731
        return {"fwd_np": ident, "inv_np": ident}
    if token == "cea":
        k = 1.0  # standard parallel 0 (EPSG:6933-style lat_ts=0 form)

        def fwd_np(lon, lat):
            return (R * np.radians(np.asarray(lon, np.float64)) * k,
                    R * np.sin(np.radians(np.asarray(lat, np.float64))) / k)

        def inv_np(x, y):
            return (np.asarray(x, np.float64) / (R * k) / _D2R,
                    np.arcsin(np.clip(np.asarray(y, np.float64) * k / R, -1, 1)) / _D2R)

        return {"fwd_np": fwd_np, "inv_np": inv_np}
    if token == "webmerc":

        def fwd_np(lon, lat):
            phi = np.radians(np.asarray(lat, np.float64))
            return (R * np.radians(np.asarray(lon, np.float64)),
                    R * np.arctanh(np.sin(phi)))

        def inv_np(x, y):
            return (np.asarray(x, np.float64) / R / _D2R,
                    np.arctan(np.sinh(np.asarray(y, np.float64) / R)) / _D2R)

        return {"fwd_np": fwd_np, "inv_np": inv_np}
    if token == "sinu":
        # the MODIS land-grid projection (ESRI:54008), equal-area:
        # x = R·λ·cos(φ), y = R·φ

        def fwd_np(lon, lat):
            phi = np.radians(np.asarray(lat, np.float64))
            return (R * np.radians(np.asarray(lon, np.float64)) * np.cos(phi), R * phi)

        def inv_np(x, y):
            phi = np.asarray(y, np.float64) / R
            return (np.asarray(x, np.float64) / (R * np.cos(phi)) / _D2R, phi / _D2R)

        return {"fwd_np": fwd_np, "inv_np": inv_np}
    if token.startswith("utm:"):
        zone = int(token[4:-1])
        south = token.endswith("s")
        lon0 = utm_lon0(zone)
        fn = 10000000.0 if south else 0.0

        def fwd_np(lon, lat):
            return tm_forward_np(lon, lat, lon0, fn=fn)

        def inv_np(x, y):
            return tm_inverse_np(x, y, lon0, fn=fn)

        return {"fwd_np": fwd_np, "inv_np": inv_np}
    if token.startswith(("aea:", "lcc:")):
        P = conic_params_of(token)

        def fwd_np(lon, lat):
            return conic_forward_np(lon, lat, P)

        def inv_np(x, y):
            return conic_inverse_np(x, y, P)

        return {"fwd_np": fwd_np, "inv_np": inv_np}
    if token == "merc3395":
        return {"fwd_np": merc3395_forward_np, "inv_np": merc3395_inverse_np}
    if token.startswith("tmd:"):
        # transverse Mercator with a natural origin on a custom
        # ellipsoid + datum (EPSG:27700-class): Helmert shift composed
        # with the Krüger series on that ellipsoid
        T = tmd_params(token)
        P, lon0, k0, fe = T["P"], T["lon0"], T["k0"], T["fe"]
        fn_eff, f_, a_ = T["fn_eff"], T["f"], T["a"]

        def fwd_np(lon, lat):
            lo, la = wgs84_to_datum_np(lon, lat, P)
            return tm_forward_np(lo, la, lon0, k0, fe, fn_eff, f_, a_)

        def inv_np(E, N):
            lo, la = tm_inverse_np(E, N, lon0, k0, fe, fn_eff, f_, a_)
            return datum_to_wgs84_np(lo, la, P)

        return {"fwd_np": fwd_np, "inv_np": inv_np}
    if token.startswith("geog:"):
        # geographic CRS on another datum: the CRS's (x, y) ARE datum
        # lon/lat degrees; fwd/inv are the Helmert datum shifts
        P = datum_params(token)

        def fwd_np(lon, lat):
            return wgs84_to_datum_np(lon, lat, P)

        def inv_np(x, y):
            return datum_to_wgs84_np(x, y, P)

        return {"fwd_np": fwd_np, "inv_np": inv_np}
    raise NotImplementedError(f"no transform functions for CRS token {token!r}")


def _project(df: DataFrame, fn, x: str, y: str,
             out: tuple[str, str] = ("_sx", "_sy")) -> DataFrame:
    """``df`` plus two double columns ``out`` = ``fn(df[x], df[y])``,
    where ``fn`` is a numpy transform (a ``*_np`` twin, or a composition
    of them).  One Arrow-batched pandas UDF runs the whole chain, so the
    plan holds a single Python-eval node however long the series math.
    Quantization stays a Spark Column downstream: Spark's and DuckDB's
    ROUND round halves up, ``np.round`` rounds them to even.  Non-finite
    results (a point outside a projection's domain) come back NULL, so
    they gather nothing instead of flooring onto row 0 / col 0."""

    def project_batch(xs: pd.Series, ys: pd.Series) -> pd.DataFrame:
        with np.errstate(all="ignore"):
            ox, oy = fn(xs.to_numpy(np.float64), ys.to_numpy(np.float64))
        return pd.DataFrame({
            k: pd.array(np.where(np.isfinite(v), v, np.nan), dtype="Float64")
            for k, v in (("x", np.asarray(ox, np.float64)),
                         ("y", np.asarray(oy, np.float64)))})

    # the UDF in its own select, read back by field. Marked
    # nondeterministic so Catalyst neither collapses that select nor
    # pushes a later filter below it: either would copy the UDF and
    # run the chain twice.
    udf = F.pandas_udf(project_batch, "x double, y double").asNondeterministic()
    return df.select(*df.columns, udf(x, y).alias("_p")).select(
        *df.columns, F.col("_p.x").alias(out[0]), F.col("_p.y").alias(out[1]))


def _cell_centers(x0: float, y_top: float, tcx: float, tcy: float):
    """(xm, ym) Columns: the center of target cell (trow, tcol) in
    target units; row 0 sits at ``y_top`` (tcy < 0 is north-up)."""
    return (F.lit(x0) + (F.col("tcol") + F.lit(0.5)) * F.lit(tcx),
            F.lit(y_top) + (F.col("trow") + F.lit(0.5)) * F.lit(tcy))


def _boundary_samples(lon_a: float, lat_a: float, lon_b: float, lat_b: float,
                      n_samples: int = 64):
    """Dense samples of a lon/lat rectangle's BOUNDARY — the shared
    scaffolding for projected-bounds estimation (a projection's image
    of a graticule rectangle is not a rectangle; corners under-cover)."""
    t = np.linspace(0.0, 1.0, n_samples)
    lons = np.concatenate([
        lon_a + (lon_b - lon_a) * t, lon_a + (lon_b - lon_a) * t,
        np.full_like(t, lon_a), np.full_like(t, lon_b),
    ])
    lats = np.concatenate([
        np.full_like(t, lat_a), np.full_like(t, lat_b),
        lat_a + (lat_b - lat_a) * t, lat_a + (lat_b - lat_a) * t,
    ])
    return lons, lats


def any_bounds(src_crs, dst_crs, src_origin, src_cellsize, src_shape,
               bbox_lonlat=None, n_samples: int = 64):
    """Target bounds in dst units: source boundary -> inv(src) ->
    lon/lat extent (or the bbox window) -> dense boundary -> fwd(dst).
    Shared by the plan, the numpy oracle and the gate SQL so all three
    lattices are literal-identical."""
    sfn = crs_funcs(parse_crs(src_crs))
    dst_tok = parse_crs(dst_crs)
    dfn = crs_funcs(dst_tok)
    h, w = src_shape
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    if bbox_lonlat is not None:
        lon_a, lat_a, lon_b, lat_b = bbox_lonlat
    else:
        xs, ys = _boundary_samples(x0g, y0g + h * cy, x0g + w * cx, y0g, n_samples)
        lons, lats = sfn["inv_np"](xs, ys)
        lon_a, lon_b = float(np.min(lons)), float(np.max(lons))
        lat_a, lat_b = float(np.min(lats)), float(np.max(lats))
    # extents a target projection cannot cover refuse for every mode
    # and source CRS (a bbox window, like GDAL -te, is the way out)
    if dst_tok.startswith(("utm:", "tmd:")):
        lon0 = (utm_lon0(int(dst_tok[4:-1])) if dst_tok.startswith("utm:")
                else tmd_params(dst_tok)["lon0"])
        if max(abs(lon_a - lon0), abs(lon_b - lon0)) > 40.0:
            raise NotImplementedError(
                "transverse Mercator target: the extent reaches beyond ±40° "
                "of the central meridian, where the Krüger series diverges "
                "— pass bbox_lonlat to window the warp")
    if dst_tok.startswith(("aea:", "lcc:")):
        lon0 = conic_params_of(dst_tok)["lon0"]
        if max(abs(lon_a - lon0), abs(lon_b - lon0)) >= 180.0:
            raise NotImplementedError(
                "conic target: the extent spans the antimeridian of the "
                "projection center — pass bbox_lonlat to window the warp")
    if dst_tok == "webmerc":
        # the ±85.05112878 Mercator-square convention (the XYZ tiler's),
        # so a pole-reaching source gives the Mercator square — not
        # arctanh(±1)=inf bounds
        lat_a = max(lat_a, -85.05112878)
        lat_b = min(lat_b, 85.05112878)
    lons, lats = _boundary_samples(lon_a, lat_a, lon_b, lat_b, n_samples)
    X, Y = dfn["fwd_np"](lons, lats)
    out = (float(np.min(X)), float(np.min(Y)), float(np.max(X)), float(np.max(Y)))
    if not all(math.isfinite(v) for v in out):
        raise ValueError(
            f"reproject_any: non-finite target bounds {out} for dst "
            f"{dst_tok!r} over lon[{lon_a},{lon_b}] lat[{lat_a},{lat_b}] — "
            "the source extent leaves the target CRS's domain; pass "
            "bbox_lonlat to window the warp")
    return out


def reproject_any(
    px: DataFrame | None,
    src_crs,
    dst_crs,
    src_origin: tuple[float, float],
    src_cellsize: tuple[float, float],
    src_shape: tuple[int, int],
    out_shape: tuple[int, int],
    resampling: str = "nearest",
    bbox_lonlat=None,
    images: DataFrame | None = None,
) -> DataFrame:
    """The warp between ANY two supported CRSs (wgs84, cea, webmerc,
    sinu, utm:*, aea:*, lcc:*, merc3395, geog:*, tmd:*), reference-
    shaped (georasters.py:559-667): reproject(px, 'EPSG:4326',
    'EPSG:3857', ..., resampling='bilinear'); CRSs are anything
    ``parse_crs`` takes.  The target lattice is built in dst
    coordinates, inverse-projected to lon/lat, forward-projected to
    src coordinates, and gathered with the standard quantized affine
    join. src_origin/src_cellsize are in SRC CRS units.  bbox_lonlat =
    (lon_min, lat_min, lon_max, lat_max) windows the target extent
    (GDAL -te analog; required for UTM/TM targets of sources reaching
    past ±40° of the central meridian, and for conic targets of
    antimeridian-spanning sources).

    resampling covers the COMPLETE gdalwarp -r enum for every CRS pair
    (reference georasters.py:592-606): nearest | bilinear | cubic
    (Catmull-Rom) | cubicspline (B-spline) | lanczos (a=3) via the
    shared inverse-warp kernel gather, plus the forward-bucket
    aggregates average | sum | min | max | count | mode | rms | med |
    q1 | q3 (source centers forward-project into target cells; one
    grouped aggregate — only non-empty cells are emitted, like GDAL).
    Nearest output is (trow, tcol, xm, ym, value), xm/ym the target
    cell center in target CRS units; the other modes return (trow,
    tcol, value, n_contrib).

    One gather per resampling rule: nearest joins the pixel table on
    the quantized source index; bilinear, cubic, cubicspline and
    lanczos are rows of one separable-kernel table (offsets + weight
    function + weight-mass guard) through ``_kernel_gather``.
    ``images`` (the tiles table) switches both to their tile-cogrouped
    twins — ``gather_from_tiles`` and ``_kernel_gather_tiles`` — which
    shuffle the target lattice instead of the source pixels and are
    value-identical to the pixel joins (pytest-pinned); ``px`` may then
    be None.  The aggregate modes forward-bucket source pixels, so they
    need ``px``."""
    src = parse_crs(src_crs)
    dst = parse_crs(dst_crs)
    if src == dst == "wgs84":
        raise NotImplementedError("identity reproject: use resize/extract")
    sfn = crs_funcs(src)
    dfn = crs_funcs(dst)
    th, tw = out_shape
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    X0, Y0b, X1, Y1b = any_bounds(src_crs, dst_crs, src_origin, src_cellsize,
                                  src_shape, bbox_lonlat)
    tcx = (X1 - X0) / tw
    tcy = (Y0b - Y1b) / th  # negative: row 0 at max y
    kern = {"bilinear": "bilinear", "cubic": "catmull",
            "cubicspline": "bspline", "lanczos": "lanczos"}.get(resampling)
    agg = _AGG_MODES.get(resampling)
    if agg is not None:
        if px is None:
            raise ValueError(f"resampling {resampling!r} forward-buckets "
                             "source pixels: pass px, not only images")
        # forward-bucket path: every valid SOURCE cell center maps
        # src units -> lon/lat -> dst units and bins into its target
        # cell; scan + one grouped aggregate, map-side partials
        xc = F.lit(x0g) + (F.col("col") + F.lit(0.5)) * F.lit(cx)
        yc = F.lit(y0g) + (F.col("row") + F.lit(0.5)) * F.lit(cy)
        binned = _project(
            px.select("value", xc.alias("_xc"), yc.alias("_yc")),
            lambda x, y: dfn["fwd_np"](*sfn["inv_np"](x, y)),
            "_xc", "_yc", out=("_X", "_Y"),
        ).select(
            F.floor(F.round((F.col("_Y") - F.lit(Y1b)) / F.lit(tcy), _Q))
            .cast("long").alias("trow"),
            F.floor(F.round((F.col("_X") - F.lit(X0)) / F.lit(tcx), _Q))
            .cast("long").alias("tcol"),
            "value",
        ).filter(
            (F.col("trow") >= 0) & (F.col("trow") < th)
            & (F.col("tcol") >= 0) & (F.col("tcol") < tw)
        )
        return _bucket_agg(binned, agg)
    if resampling != "nearest" and kern is None:
        raise _unknown_mode(resampling)
    # inverse gather: target cell center -> lon/lat -> source units
    spark = (px if px is not None else images).sparkSession
    xm, ym = _cell_centers(X0, Y1b, tcx, tcy)
    lattice = (spark.range(th).select(F.col("id").alias("trow"))
               .crossJoin(spark.range(tw).select(F.col("id").alias("tcol")))
               .select("trow", "tcol", xm.alias("xm"), ym.alias("ym")))
    tgt = _project(lattice, lambda x, y: sfn["fwd_np"](*dfn["inv_np"](x, y)),
                   "xm", "ym")
    sx, sy = F.col("_sx"), F.col("_sy")
    tiled = dict(n_targets=th * tw, src_shape=src_shape)
    if kern is not None:
        u = F.round((sy - F.lit(y0g)) / F.lit(cy) - F.lit(0.5), _Q)
        v = F.round((sx - F.lit(x0g)) / F.lit(cx) - F.lit(0.5), _Q)
        if images is not None:
            return _kernel_gather_tiles(images, tgt, u, v, kern, **tiled)
        return _kernel_gather(px, tgt, u, v, kern)
    # nearest: the quantized floor-stable source index
    idx = tgt.select(
        "trow", "tcol", "xm", "ym",
        F.floor(F.round((sy - F.lit(y0g)) / F.lit(cy), _Q)).cast("long").alias("row"),
        F.floor(F.round((sx - F.lit(x0g)) / F.lit(cx), _Q)).cast("long").alias("col"))
    if images is None:
        # no semi-join prefilter on px: the source rows/cols in use come
        # from the projected lattice, so deriving them would run the
        # projection pass twice more, which costs more than the smaller
        # shuffle saves except at large downsampling ratios; images= is
        # the path for scale
        return (idx.join(px.select("row", "col", "value"), ["row", "col"], "left")
                .select("trow", "tcol", "xm", "ym", "value"))
    # xm/ym are pure functions of trow/tcol: recompute them AFTER the
    # gather (same Column expressions, so bit-identical values) instead
    # of carrying two doubles per row through the shuffle and both
    # Arrow crossings
    g = gather_from_tiles(idx.select("trow", "tcol", "row", "col"), images,
                          carry=(), **tiled)
    return g.select("trow", "tcol", xm.alias("xm"), ym.alias("ym"), "value")


reproject = reproject_any


# ---------------------------------------------------------------------------
# Datum shifts: non-WGS84 geographic CRSs via geocentric Helmert
# transforms (reference: georasters.py:559-667 accepts ANY osr CRS —
# GDAL applies +towgs84 the same way).  A datum'd geographic CRS is
# the token "geog:a:f:dx:dy:dz:rx:ry:rz:ds" (ellipsoid semi-major a,
# flattening f, 7-param position-vector Helmert to WGS84: meters,
# arcseconds, ppm).  Pipeline, closed form end to end (no iteration —
# Bowring's one-step inverse — so numpy and DuckDB SQL compute the
# identical operation sequence):
#
#   datum lon/lat --(geodetic->XYZ on datum ellipsoid)-->
#   --(Helmert to WGS84)--> --(Bowring XYZ->geodetic on WGS84)--> lon/lat
#
# The reverse direction negates the Helmert parameters (the standard
# approximation, exact to << the quantized-gather tolerance).
# ---------------------------------------------------------------------------

_ARCSEC = math.pi / 648000.0

#: proj4 ellipsoid registry (a, 1/f supplied as f directly)
ELLIPSOIDS = {
    "wgs84": (6378137.0, 1.0 / 298.257223563),
    "grs80": (6378137.0, 1.0 / 298.257222101),
    "airy": (6377563.396, 1.0 / 299.3249646),
    "clrk66": (6378206.4, 1.0 / 294.9786982),
    "intl": (6378388.0, 1.0 / 297.0),
    "krass": (6378245.0, 1.0 / 298.3),
    "bessel": (6377397.155, 1.0 / 299.1528128),
    "sphere": (6370997.0, 0.0),
}

#: geographic EPSG codes on non-WGS84 datums: (ellipsoid, towgs84)
DATUM_EPSG = {
    4267: ("clrk66", (-8.0, 160.0, 176.0, 0.0, 0.0, 0.0, 0.0)),      # NAD27
    4277: ("airy", (446.448, -125.157, 542.06,
                    0.15, 0.247, 0.842, -20.489)),                    # OSGB36
    4269: ("grs80", (0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)),             # NAD83
    4258: ("grs80", (0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)),             # ETRS89
    4230: ("intl", (-87.0, -98.0, -121.0, 0.0, 0.0, 0.0, 0.0)),       # ED50
}


def geog_token(a: float, f: float, towgs84) -> str:
    t = tuple(float(v) for v in towgs84)
    if len(t) == 3:
        t = t + (0.0, 0.0, 0.0, 0.0)
    if len(t) != 7:
        raise NotImplementedError("+towgs84 must have 3 or 7 parameters")
    return "geog:" + ":".join(repr(float(v)) for v in (a, f) + t)


def datum_params(token: str) -> dict:
    vals = [float(v) for v in token.split(":")[1:]]
    a, f = vals[0], vals[1]
    b = a * (1.0 - f)
    e2 = f * (2.0 - f)
    ep2 = (a * a - b * b) / (b * b) if b else 0.0
    return {
        "a": a, "f": f, "b": b, "e2": e2, "ep2": ep2,
        "dx": vals[2], "dy": vals[3], "dz": vals[4],
        "rx": vals[5] * _ARCSEC, "ry": vals[6] * _ARCSEC,
        "rz": vals[7] * _ARCSEC, "m": 1.0 + vals[8] * 1e-6,
    }


_WGS84_ELL = {
    "a": _WGS84_A, "b": _WGS84_A * (1.0 - _WGS84_F),
    "e2": _WGS84_F * (2.0 - _WGS84_F),
    "ep2": (_WGS84_A ** 2 - (_WGS84_A * (1.0 - _WGS84_F)) ** 2)
    / (_WGS84_A * (1.0 - _WGS84_F)) ** 2,
}


def _geodetic_to_xyz_np(lon, lat, a, e2):
    phi = np.radians(np.asarray(lat, np.float64))
    lam = np.radians(np.asarray(lon, np.float64))
    sp, cp = np.sin(phi), np.cos(phi)
    n = a / np.sqrt(1.0 - e2 * sp * sp)
    return n * cp * np.cos(lam), n * cp * np.sin(lam), n * (1.0 - e2) * sp


def _xyz_to_geodetic_np(X, Y, Z, a, b, e2, ep2):
    p = np.sqrt(X * X + Y * Y)
    th = np.arctan2(Z * a, p * b)
    st, ct = np.sin(th), np.cos(th)
    phi = np.arctan2(Z + ep2 * b * st * st * st, p - e2 * a * ct * ct * ct)
    lam = np.arctan2(Y, X)
    return lam / _D2R, phi / _D2R


def _helmert_np(X, Y, Z, P, inverse: bool):
    s = -1.0 if inverse else 1.0
    m = 1.0 + s * (P["m"] - 1.0)
    rx, ry, rz = s * P["rx"], s * P["ry"], s * P["rz"]
    dx, dy, dz = s * P["dx"], s * P["dy"], s * P["dz"]
    return (
        dx + m * (X - rz * Y + ry * Z),
        dy + m * (rz * X + Y - rx * Z),
        dz + m * (-ry * X + rx * Y + Z),
    )


def datum_to_wgs84_np(lon, lat, P):
    X, Y, Z = _geodetic_to_xyz_np(lon, lat, P["a"], P["e2"])
    X, Y, Z = _helmert_np(X, Y, Z, P, inverse=False)
    W = _WGS84_ELL
    return _xyz_to_geodetic_np(X, Y, Z, W["a"], W["b"], W["e2"], W["ep2"])


def wgs84_to_datum_np(lon, lat, P):
    W = _WGS84_ELL
    X, Y, Z = _geodetic_to_xyz_np(lon, lat, W["a"], W["e2"])
    X, Y, Z = _helmert_np(X, Y, Z, P, inverse=True)
    return _xyz_to_geodetic_np(X, Y, Z, P["a"], P["b"], P["e2"], P["ep2"])


def datum_to_wgs84_sql(lon: str, lat: str, P) -> tuple[str, str]:
    """(lon_sql, lat_sql) — mirrors datum_to_wgs84_np operation for
    operation (same literals via dlit, same multiply pairing) so DuckDB
    reproduces the engine pipeline to the gather quantization."""
    d2r = dlit(_D2R)
    phi = f"({lat} * {d2r})"
    lam = f"({lon} * {d2r})"
    sp, cp = f"sin({phi})", f"cos({phi})"
    n = f"({dlit(P['a'])} / sqrt(1.0 - {dlit(P['e2'])} * {sp} * {sp}))"
    X = f"({n} * {cp} * cos({lam}))"
    Y = f"({n} * {cp} * sin({lam}))"
    Z = f"({n} * {dlit(1.0 - P['e2'])} * {sp})"
    m, rx, ry, rz = P["m"], P["rx"], P["ry"], P["rz"]
    Xh = f"({dlit(P['dx'])} + {dlit(m)} * ({X} - {dlit(rz)} * {Y} + {dlit(ry)} * {Z}))"
    Yh = f"({dlit(P['dy'])} + {dlit(m)} * ({dlit(rz)} * {X} + {Y} - {dlit(rx)} * {Z}))"
    Zh = f"({dlit(P['dz'])} + {dlit(m)} * ({dlit(-ry)} * {X} + {dlit(rx)} * {Y} + {Z}))"
    W = _WGS84_ELL
    p = f"sqrt({Xh} * {Xh} + {Yh} * {Yh})"
    th = f"atan2({Zh} * {dlit(W['a'])}, {p} * {dlit(W['b'])})"
    st, ct = f"sin({th})", f"cos({th})"
    phi2 = (f"atan2({Zh} + {dlit(W['ep2'] * W['b'])} * {st} * {st} * {st}, "
            f"{p} - {dlit(W['e2'] * W['a'])} * {ct} * {ct} * {ct})")
    lam2 = f"atan2({Yh}, {Xh})"
    return f"({lam2} / {d2r})", f"({phi2} / {d2r})"


#: +datum=NAME shorthand -> (ellipsoid, towgs84) — the proj4 names for
#: the datums this engine's Helmert registry covers
_PROJ4_DATUMS = {
    "wgs84": ("wgs84", (0.0,) * 7),
    "nad27": ("clrk66", (-8.0, 160.0, 176.0, 0.0, 0.0, 0.0, 0.0)),
    "nad83": ("grs80", (0.0,) * 7),
    "osgb36": ("airy", (446.448, -125.157, 542.06,
                        0.15, 0.247, 0.842, -20.489)),
    "ed50": ("intl", (-87.0, -98.0, -121.0, 0.0, 0.0, 0.0, 0.0)),
}


def _utm_token_if_standard(lat0, lon0, k0, fe, fn):
    """Return 'utm:<zone><n|s>' when the TM parameters are exactly a
    standard UTM zone, else None (shared by the WKT and proj4 paths)."""
    zone = (lon0 + 183.0) / 6.0
    if (lat0 == 0.0 and abs(k0 - 0.9996) < 1e-12 and fe == 500000.0
            and fn in (0.0, 10000000.0) and abs(zone - round(zone)) < 1e-9
            and 1 <= round(zone) <= 60):
        return f"utm:{round(zone)}{'s' if fn else 'n'}"
    return None


def _parse_longlat_proj4(key: str) -> str:
    """'+proj=longlat ...' -> 'wgs84' (WGS84/GRS80-no-shift/default) or
    a geog datum token when +datum/+ellps/+a/+b/+towgs84 define another
    datum. An unknown +datum NAME refuses — it must never silently
    drop a 10-200 m shift."""
    p: dict[str, str] = {}
    for tokn in key.split():
        k2, _, v = tokn.partition("=")
        p[k2] = v
    a = f = None
    if "+datum" in p:
        name = p["+datum"].lower()
        if name not in _PROJ4_DATUMS:
            raise NotImplementedError(
                f"+datum={p['+datum']} not in registry "
                f"({sorted(_PROJ4_DATUMS)}); spell it out with "
                "+ellps/+a/+b and +towgs84")
        ell, tow = _PROJ4_DATUMS[name]
        a, f = ELLIPSOIDS[ell]
        if (a, f) == ELLIPSOIDS["wgs84"] and not any(tow):
            return "wgs84"
        return geog_token(a, f, tow)
    if "+ellps" in p:
        ell = p["+ellps"].lower()
        if ell not in ELLIPSOIDS:
            raise NotImplementedError(f"+ellps={p['+ellps']} not in registry "
                                      f"({sorted(ELLIPSOIDS)})")
        a, f = ELLIPSOIDS[ell]
    if "+a" in p:
        a = float(p["+a"])
        if "+b" in p:
            b = float(p["+b"])
            f = (a - b) / a
        elif "+f" in p:
            f = float(p["+f"])
        elif "+rf" in p:
            f = 1.0 / float(p["+rf"])
        else:
            f = 0.0  # sphere
    tow = (0.0,) * 7
    if "+towgs84" in p:
        tow = tuple(float(v) for v in p["+towgs84"].split(","))
    if a is None:
        a, f = ELLIPSOIDS["wgs84"]
    if (a, f) == ELLIPSOIDS["wgs84"] and not any(tow):
        return "wgs84"
    return geog_token(a, f, tow)


# ---------------------------------------------------------------------------
# WKT1 CRS input (the reference accepts WKT/osr objects,
# georasters.py:559-667): a small recursive parser for
# GEOGCS[...DATUM[...SPHEROID, TOWGS84]...] and PROJCS[... PROJECTION,
# PARAMETER*...], mapped onto the existing token families.
# ---------------------------------------------------------------------------


def _wkt_parse_node(s: str, i: int):
    """Parse NAME[arg, arg, ...] at position i -> ((name, args), next_i);
    args are floats, quoted strings, or nested nodes."""
    j = i
    while j < len(s) and s[j] not in "[":
        j += 1
    name = s[i:j].strip().upper()
    if j >= len(s):
        raise ValueError(f"WKT: expected '[' after {name!r}")
    args = []
    j += 1
    while True:
        while j < len(s) and s[j] in ", \t\r\n":
            j += 1
        if j >= len(s):
            raise ValueError("WKT: unterminated node")
        if s[j] == "]":
            return (name, args), j + 1
        if s[j] == '"':
            k = s.index('"', j + 1)
            args.append(s[j + 1 : k])
            j = k + 1
        elif s[j].isalpha():
            # Bare enum keywords (NORTH/EAST in AXIS[...], etc.) are atoms,
            # not nested nodes: only recurse when a '[' opens before the
            # next ',' or ']' delimiter.
            k = j
            while k < len(s) and s[k] not in "[,]":
                k += 1
            if k < len(s) and s[k] == "[":
                node, j = _wkt_parse_node(s, j)
                args.append(node)
            else:
                args.append(s[j:k].strip())
                j = k
        else:
            k = j
            while k < len(s) and s[k] not in ",]":
                k += 1
            args.append(float(s[j:k]))
            j = k
    # unreachable


def _wkt_find(node, name):
    for a in node[1]:
        if isinstance(a, tuple) and a[0] == name:
            return a
    return None


def _wkt_params(node) -> dict:
    out = {}
    for a in node[1]:
        if isinstance(a, tuple) and a[0] == "PARAMETER":
            out[str(a[1][0]).lower()] = float(a[1][1])
    return out


def _wkt_authority_code(node):
    auth = _wkt_find(node, "AUTHORITY")
    if auth and len(auth[1]) == 2 and str(auth[1][0]).upper() == "EPSG":
        try:
            return int(str(auth[1][1]))
        except ValueError:
            return None
    return None


def _wkt_geogcs_token(g) -> str:
    datum = _wkt_find(g, "DATUM")
    if datum is None:
        raise ValueError("WKT GEOGCS without DATUM")
    sph = _wkt_find(datum, "SPHEROID")
    if sph is None:
        raise ValueError("WKT DATUM without SPHEROID")
    a = float(sph[1][1])
    invf = float(sph[1][2])
    f = 1.0 / invf if invf else 0.0
    tw = _wkt_find(datum, "TOWGS84")
    tow = tuple(float(v) for v in tw[1]) if tw else (0.0,) * 7
    if abs(a - ELLIPSOIDS["wgs84"][0]) < 1e-6 and \
            abs(f - ELLIPSOIDS["wgs84"][1]) < 1e-12 and not any(tow):
        return "wgs84"
    return geog_token(a, f, tow)


def parse_wkt(wkt: str) -> str:
    """WKT1 GEOGCS/PROJCS -> parse_crs token. An EPSG AUTHORITY on the
    top node short-circuits to the numeric path; otherwise the
    structure is mapped: GEOGCS -> wgs84 or a geog datum token, PROJCS
    -> the matching projection family (WGS84 datum only — the
    projection kernels are WGS84/sphere-specific)."""
    node, _ = _wkt_parse_node(wkt.strip(), 0)
    code = _wkt_authority_code(node)
    if code is not None:
        return parse_crs(code)
    if node[0] == "GEOGCS":
        return _wkt_geogcs_token(node)
    if node[0] != "PROJCS":
        raise NotImplementedError(f"WKT node {node[0]} not supported")
    g = _wkt_find(node, "GEOGCS")
    if g is None:
        raise ValueError("WKT PROJCS without GEOGCS")
    geog = _wkt_geogcs_token(g)
    proj = _wkt_find(node, "PROJECTION")
    if proj is None:
        raise ValueError("WKT PROJCS without PROJECTION")
    pname = str(proj[1][0]).lower()
    p = _wkt_params(node)
    lat0 = p.get("latitude_of_origin", 0.0)
    lon0 = p.get("central_meridian", p.get("longitude_of_center", 0.0))
    k0 = p.get("scale_factor", 1.0)
    fe = p.get("false_easting", 0.0)
    fn = p.get("false_northing", 0.0)
    if geog != "wgs84" and pname != "transverse_mercator":
        raise NotImplementedError(
            "projected WKT on a non-WGS84 datum is only supported for "
            "Transverse_Mercator (Helmert + Krüger on that ellipsoid); "
            "reproject other projections via the datum'd geographic form")
    if pname == "transverse_mercator":
        if geog != "wgs84":
            gp = datum_params(geog)
            return tmd_token(gp["a"], gp["f"], lat0, lon0, k0, fe, fn,
                             tuple(float(x) for x in geog.split(":")[3:]))
        utm = _utm_token_if_standard(lat0, lon0, k0, fe, fn)
        if utm:
            return utm
        a, f = ELLIPSOIDS["wgs84"]
        return tmd_token(a, f, lat0, lon0, k0, fe, fn, (0.0,) * 7)
    if pname in ("popular_visualisation_pseudo_mercator",
                 "mercator_auxiliary_sphere"):
        return "webmerc"
    if pname == "mercator_1sp":
        # TRUE (ellipsoidal) Mercator — EPSG:3395 form only
        if k0 == 1.0 and lat0 == 0.0 and lon0 == 0.0 and fe == 0.0 and fn == 0.0:
            return "merc3395"
        raise NotImplementedError(
            "WKT Mercator_1SP only as EPSG:3395 World Mercator "
            "(k0=1, natural origin at 0/0, no false origin)")
    if pname == "cylindrical_equal_area":
        if p.get("standard_parallel_1", 0.0) != 0.0 or lon0 != 0.0:
            raise NotImplementedError("WKT CEA only with lat_ts=0, lon0=0")
        return "cea"
    if pname == "sinusoidal":
        if lon0 != 0.0:
            raise NotImplementedError("WKT Sinusoidal only with lon0=0")
        return "sinu"
    if pname == "albers_conic_equal_area":
        return (f"aea:custom:{p['standard_parallel_1']}"
                f":{p.get('standard_parallel_2', p['standard_parallel_1'])}"
                f":{lat0}:{lon0}:{fe}:{fn}")
    if pname == "lambert_conformal_conic_2sp":
        return (f"lcc:custom:{p['standard_parallel_1']}"
                f":{p.get('standard_parallel_2', p['standard_parallel_1'])}"
                f":{lat0}:{lon0}:{fe}:{fn}")
    raise NotImplementedError(f"WKT PROJECTION {pname!r} not supported")


# ---------------------------------------------------------------------------
# Projected CRSs on non-WGS84 datums: transverse Mercator with a
# natural origin on a custom ellipsoid (EPSG:27700 British National
# Grid class).  Token "tmd:a:f:lat0:lon0:k0:fe:fn:dx:dy:dz:rx:ry:rz:ds"
# composes the Helmert shift with the Krüger series on that ellipsoid.
# The natural-origin latitude folds into an effective false northing
# (fn_eff = fn - k0·A·ξ(lat0): the meridian arc from the equator to
# lat0 in Krüger rectifying coordinates), so the zone kernels run
# unchanged.
# ---------------------------------------------------------------------------


def tmd_token(a: float, f: float, lat0: float, lon0: float, k0: float,
              fe: float, fn: float, towgs84) -> str:
    t = tuple(float(v) for v in towgs84)
    if len(t) == 3:
        t = t + (0.0, 0.0, 0.0, 0.0)
    if len(t) != 7:
        raise NotImplementedError("+towgs84 must have 3 or 7 parameters")
    return "tmd:" + ":".join(
        repr(float(v)) for v in (a, f, lat0, lon0, k0, fe, fn) + t)


def tm_xi0(lat0: float, f: float, a: float) -> float:
    """Krüger rectifying coordinate ξ of latitude lat0 on the central
    meridian (λ = 0) — the meridian arc is A·ξ."""
    n, A, alpha, _, _ = _tm_series(f, a)
    es = 2.0 * math.sqrt(n) / (1.0 + n)
    sphi = math.sin(math.radians(lat0))
    t = math.sinh(math.atanh(sphi) - es * math.atanh(es * sphi))
    xip = math.atan2(t, 1.0)
    return xip + sum(aj * math.sin(2 * j * xip)
                     for j, aj in enumerate(alpha, 1))


def tmd_params(token: str) -> dict:
    v = [float(x) for x in token.split(":")[1:]]
    a, f, lat0, lon0, k0, fe, fn = v[:7]
    _, A, _, _, _ = _tm_series(f, a)
    return {
        "a": a, "f": f, "lat0": lat0, "lon0": lon0, "k0": k0, "fe": fe,
        "fn": fn, "fn_eff": fn - k0 * A * tm_xi0(lat0, f, a),
        "P": datum_params(geog_token(a, f, v[7:])),
    }


#: projected EPSG codes on non-WGS84 datums
TMD_EPSG = {
    # British National Grid: TM on Airy 1830, OSGB36 7-param Helmert
    27700: tmd_token(*ELLIPSOIDS["airy"], 49.0, -2.0, 0.9996012717,
                     400000.0, -100000.0, DATUM_EPSG[4277][1]),
}


def _parse_tmerc_proj4(key: str) -> str:
    """'+proj=tmerc +lat_0 +lon_0 +k +x_0 +y_0 [+ellps/+a/+b]
    [+towgs84]' -> utm-style token on WGS84, tmd token otherwise."""
    p: dict[str, str] = {}
    for tokn in key.split():
        k2, _, val = tokn.partition("=")
        p[k2] = val
    lat0 = float(p.get("+lat_0", 0.0))
    lon0 = float(p.get("+lon_0", 0.0))
    k0 = float(p.get("+k", p.get("+k_0", 1.0)))
    fe = float(p.get("+x_0", 0.0))
    fn = float(p.get("+y_0", 0.0))
    geog = _parse_longlat_proj4(
        "+proj=longlat " + " ".join(
            t for t in key.split()
            if t.split("=")[0] in ("+ellps", "+a", "+b", "+f", "+rf",
                                   "+towgs84", "+datum")))
    if geog == "wgs84":
        utm = _utm_token_if_standard(lat0, lon0, k0, fe, fn)
        if utm:
            return utm
        a, f = ELLIPSOIDS["wgs84"]
        return tmd_token(a, f, lat0, lon0, k0, fe, fn, (0.0,) * 7)
    P = datum_params(geog)
    return tmd_token(P["a"], P["f"], lat0, lon0, k0, fe, fn,
                     tuple(float(x) for x in geog.split(":")[3:]))


# ---------------------------------------------------------------------------
# Ellipsoidal Mercator (EPSG:3395 World Mercator): the TRUE Mercator on
# the WGS84 ellipsoid — x = a·λ, y = a·q with q the isometric latitude
# q = atanh(sin φ) − e·atanh(e·sin φ); the inverse recovers the
# conformal latitude χ = atan(sinh(y/a)) and rectifies it with the SAME
# delta series the Krüger transverse-Mercator inverse uses
# (_tm_series), so both engines share a closed form with no iteration.
# ---------------------------------------------------------------------------

_E_WGS84 = math.sqrt(_WGS84_F * (2.0 - _WGS84_F))


def merc3395_forward_np(lon, lat):
    lam = np.radians(np.asarray(lon, np.float64))
    sphi = np.sin(np.radians(np.asarray(lat, np.float64)))
    q = np.arctanh(sphi) - _E_WGS84 * np.arctanh(_E_WGS84 * sphi)
    return _WGS84_A * lam, _WGS84_A * q


def merc3395_inverse_np(x, y):
    _n, _A, _a, _b, delta = _tm_series()
    lam = np.asarray(x, np.float64) / _WGS84_A
    chi = np.arctan(np.sinh(np.asarray(y, np.float64) / _WGS84_A))
    phi = chi.copy()
    for j, d in enumerate(delta, 1):
        phi = phi + d * np.sin(2 * j * chi)
    return lam / _D2R, phi / _D2R


def merc3395_inverse_sql(x_expr: str, y_expr: str) -> tuple[str, str]:
    """(lon_sql, lat_sql) mirroring merc3395_inverse_np term for term
    (sinh spelled with exp for DuckDB, like tm_inverse_sql)."""
    _n, _A, _a, _b, delta = _tm_series()
    Al = dlit(_WGS84_A)
    d2r = dlit(_D2R)
    sinh_s = f"((exp(({y_expr}) / {Al}) - exp(-(({y_expr}) / {Al}))) / 2.0)"
    chi = f"atan({sinh_s})"
    phi = "chi" + "".join(
        f" + {dlit(d)} * sin({dlit(float(2 * j))} * chi)"
        for j, d in enumerate(delta, 1))
    lon = f"(({x_expr}) / {Al} / {d2r})"
    return lon, f"(({phi.replace('chi', chi)}) / {d2r})"


def warp_cutline(px: DataFrame | None,
                 src_origin: tuple[float, float],
                 src_cellsize: tuple[float, float],
                 src_shape: tuple[int, int],
                 out_shape: tuple[int, int],
                 zones,
                 images: DataFrame | None = None) -> DataFrame:
    """gdalwarp -cutline role: warp a WGS84 source onto the CEA target
    grid and keep only target cells whose CENTER falls inside a cutline
    polygon (cutline given in the source CRS lon/lat, GDAL's default;
    concave rings and holes via the even-odd kernel).  Returns (trow,
    tcol, zone_id, xm, ym, value) — cells outside every cutline are
    dropped, a cell inside k cutlines appears k times (one per zone_id,
    the multi-cutline analog of running gdalwarp per cutline).

    Plan: the standard warp (pixel join or tile cogroup) + the target
    centers' closed-form inverse back to lon/lat as pure Columns + the
    SAME broadcast even-odd-PIP kernel as clip/zonal/rasterize — the
    cutline never shuffles pixels, it rides the already-warped rows."""
    from .spatial_join import pip_join

    warped = reproject_any(px, 4326, "cea", src_origin, src_cellsize,
                           src_shape, out_shape, images=images)
    lon = F.col("xm") / F.lit(R) * F.lit(180.0) / F.lit(math.pi)
    lat = F.asin(F.col("ym") * F.lit(1.0 / R)) * F.lit(180.0) / F.lit(math.pi)
    withc = warped.select("trow", "tcol", "xm", "ym", "value",
                          lon.alias("xc"), lat.alias("yc"))
    hits = pip_join(withc, zones, mode="center")
    return hits.select("trow", "tcol", F.col("zone_id").cast("long").alias("zone_id"),
                       "xm", "ym", "value")


def warp_cutline_sql(px_cte: str,
                     src_origin: tuple[float, float],
                     src_cellsize: tuple[float, float],
                     src_shape: tuple[int, int],
                     out_shape: tuple[int, int],
                     zones) -> str:
    """DuckDB oracle for warp_cutline: the wgs84_to_cea_sql lattice +
    the even-odd crossing-number predicate per zone over the SAME
    inverse lon/lat expressions."""
    from ..sources.synth import zone_sql_predicate_evenodd

    lon, lat = _cea_lonlat_sql("xm", "ym")
    preds = " UNION ALL ".join(
        f"SELECT trow, tcol, CAST({z.zone_id} AS BIGINT) AS zone_id, xm, ym, "
        f"row, col FROM loc WHERE "
        + zone_sql_predicate_evenodd(z, lon, lat)
        for z in zones)
    ctes = _cea_tgt_loc_ctes(src_origin, src_cellsize, src_shape, out_shape)
    return f"""WITH {px_cte},
{ctes},
hits AS ({preds})
SELECT hits.trow, hits.tcol, hits.zone_id, hits.xm AS xm, hits.ym AS ym,
       px.value
FROM hits LEFT JOIN px ON px.row = hits.row AND px.col = hits.col"""
