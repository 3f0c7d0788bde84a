"""Terrain derivatives: slope / aspect / hillshade (Horn 1981 — the
gdaldem algorithm; the reference reaches these through its numpy-array
escape hatch `gr.raster` + scipy/gdaldem, SURVEY §2.6's free-ufunc
family, georasters.py README:70-76).

Spark-first plan: every operator here except color-relief is a numpy
3×3 stencil run through `focal.focal_apply` (pixel table) or
`focal.focal_apply_tiles` (stored tiles, images=): one tile-keyed
grouped-map with a 1-cell halo, no neighbor join. Horn's weighted
differences are LINEAR in the neighbors:

    wx(dr, dc) = dc · (2 if dr == 0 else 1)      (east − west)
    wy(dr, dc) = dr · (2 if dc == 0 else 1)      (south − north)
    dz/dx = Σ wx·z_n / (8·xres),   dz/dy = Σ wy·z_n / (8·yres)

The stencils sum the window as int64, so the weighted sums, the TPI/
TRI sums and the D8 scores are EXACT BIGINTs for integer rasters (the
usual oracle contract; |value| >= 2^53 raises). The derivative/trig
chain is whole-stage-codegen Column math over those sums. The DuckDB
oracles (`*_sql`) recompute the sums with an 8-offset neighbor join
over HORN_OFFSETS / D8_OFFSETS — independent of the tile/halo path.

Conventions (documented, deterministic):
  * cells missing any of their 8 neighbors (raster edge or adjacent
    nodata) emit NULL derivatives — gdaldem likewise skips edges.
  * aspect: compass degrees [0, 360), 0 = north, clockwise —
    aspect = pmod(90 − degrees(atan2(dzdy, −dzdx)), 360); FLAT cells
    (both weighted sums exactly 0 — an integer test, engine-stable)
    get NULL aspect (gdaldem emits -9999 there).
  * hillshade: 255·max(0, cos(zen)cos(s) + sin(zen)sin(s)cos(az−asp)),
    azimuth/altitude in degrees (defaults 315/45), flat cells get the
    constant 255·cos(zen)·1 (sin(s)=0 kills the aspect term).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .focal import focal_apply, focal_apply_tiles, int_window

HORN_OFFSETS = [
    (dr, dc, dc * (2 if dr == 0 else 1), dr * (2 if dc == 0 else 1))
    for dr in (-1, 0, 1) for dc in (-1, 0, 1) if (dr, dc) != (0, 0)
]

# HORN_OFFSETS' x and y weights laid out over a (3, 3) window
_HORN_W = np.zeros((2, 3, 3), dtype=np.int64)
for _dr, _dc, _wx, _wy in HORN_OFFSETS:
    _HORN_W[:, _dr + 1, _dc + 1] = (_wx, _wy)


def _neighbor_count(swm):
    return swm.sum(axis=(2, 3)) - swm[:, :, 1, 1]


def _stencil(px: DataFrame | None, fn, out_schema: str,
             images: DataFrame | None = None) -> DataFrame:
    """Run a 3×3 stencil over the stored tiles when `images` is given,
    otherwise over the pixel table `px` (values cast to BIGINT). Every
    valid cell emits a row, an isolated one (ncnt = 0) too."""
    if images is not None:
        return focal_apply_tiles(images, fn, k=3, out_schema=out_schema)
    return focal_apply(
        px.select("row", "col", F.col("value").cast("long").alias("value")),
        fn, k=3, out_schema=out_schema,
    )


_HORN_SCHEMA = "row long, col long, value long, sx long, sy long, ncnt long"


def _horn_stencil(swv, swm):
    """Per window: the center value, the Horn-weighted sums of the valid
    neighbors and their count."""
    v = int_window(swv, swm)
    return {
        "value": v[:, :, 1, 1],
        "sx": (v * _HORN_W[0]).sum(axis=(2, 3)),
        "sy": (v * _HORN_W[1]).sum(axis=(2, 3)),
        "ncnt": _neighbor_count(swm),
    }


def _horn_derivatives(cellsize: tuple[float, float], zfactor: float):
    """Columns over the Horn sums: (full, flat, slope_rad, aspect_deg)."""
    cx, cy = cellsize
    dzdx = F.col("sx") * F.lit(float(zfactor)) / F.lit(8.0 * abs(cx))
    dzdy = F.col("sy") * F.lit(float(zfactor)) / F.lit(8.0 * abs(cy))
    slope_rad = F.atan(F.sqrt(dzdx * dzdx + dzdy * dzdy))
    a_deg = F.atan2(dzdy, -dzdx) * F.lit(180.0) / F.lit(math.pi)
    return (F.col("ncnt") == 8, (F.col("sx") == 0) & (F.col("sy") == 0),
            slope_rad, F.pmod(F.lit(90.0) - a_deg, F.lit(360.0)))


def slope_aspect_hillshade(
    px: DataFrame | None,
    cellsize: tuple[float, float],
    zfactor: float = 1.0,
    azimuth: float = 315.0,
    altitude: float = 45.0,
    round_dp: int = 6,
    images: DataFrame | None = None,
) -> DataFrame:
    """Per-cell (row, col, value, slope_deg, aspect_deg, hillshade) —
    NULL derivatives on cells without a full 3×3 window. Pass the
    stored tiles table as images= (px may then be None) to run the
    stencil off the tiles: decode-in-place + halo-strip exchange, no
    pixel explode; the results are identical."""
    full, flat, slope_rad, aspect = _horn_derivatives(cellsize, zfactor)
    slope_deg = slope_rad * F.lit(180.0) / F.lit(math.pi)
    zen = math.radians(90.0 - altitude)
    az = math.radians(azimuth)
    asp_rad = F.when(flat, F.lit(0.0)).otherwise(aspect * F.lit(math.pi) / F.lit(180.0))
    hs = F.lit(255.0) * F.greatest(
        F.lit(0.0),
        F.lit(math.cos(zen)) * F.cos(slope_rad)
        + F.lit(math.sin(zen)) * F.sin(slope_rad) * F.cos(F.lit(az) - asp_rad),
    )
    return _stencil(px, _horn_stencil, _HORN_SCHEMA, images=images).select(
        "row", "col", "value",
        F.when(full, F.round(slope_deg, round_dp)).alias("slope_deg"),
        F.when(full & ~flat, F.round(aspect, round_dp)).alias("aspect_deg"),
        F.when(full, F.round(hs, round_dp)).alias("hillshade"),
    )


def terrain_sql(px_cte: str, cellsize: tuple[float, float], zfactor: float = 1.0,
                azimuth: float = 315.0, altitude: float = 45.0,
                round_dp: int = 6) -> str:
    """DuckDB oracle emitting the identical expression chain (exact
    BIGINT weighted sums → the same double math term-for-term)."""
    from .reproject import dlit

    cx, cy = cellsize
    offsets = ", ".join(f"({dr}, {dc}, {wx}, {wy})" for dr, dc, wx, wy in HORN_OFFSETS)
    zen = math.radians(90.0 - altitude)
    az = math.radians(azimuth)
    return f"""WITH {px_cte},
offs(dr, dc, wx, wy) AS (VALUES {offsets}),
cand AS (
  SELECT a.row, a.col, a.value, a.row + o.dr AS r2, a.col + o.dc AS c2, o.wx, o.wy
  FROM px a CROSS JOIN offs o),
sums AS (
  SELECT cand.row, cand.col,
         CAST(MIN(cand.value) AS BIGINT) AS value,
         CAST(SUM(cand.wx * b.value) AS BIGINT) AS sx,
         CAST(SUM(cand.wy * b.value) AS BIGINT) AS sy,
         COUNT(*) AS ncnt
  FROM cand JOIN px b ON b.row = cand.r2 AND b.col = cand.c2
  GROUP BY 1, 2),
d AS (
  SELECT row, col, value, ncnt, sx, sy,
         sx * {dlit(float(zfactor))} / {dlit(8.0 * abs(cx))} AS dzdx,
         sy * {dlit(float(zfactor))} / {dlit(8.0 * abs(cy))} AS dzdy
  FROM sums),
t AS (
  SELECT row, col, value, ncnt, sx, sy, dzdx, dzdy,
         atan(sqrt(dzdx * dzdx + dzdy * dzdy)) AS slope_rad,
         ((90.0 - atan2(dzdy, -dzdx) * 180.0 / pi()) % 360.0 + 360.0) % 360.0 AS aspect_raw
  FROM d)
SELECT row, col, value,
  CASE WHEN ncnt = 8 THEN ROUND(slope_rad * 180.0 / pi(), {round_dp}) END AS slope_deg,
  CASE WHEN ncnt = 8 AND NOT (sx = 0 AND sy = 0) THEN ROUND(aspect_raw, {round_dp}) END AS aspect_deg,
  CASE WHEN ncnt = 8 THEN ROUND(255.0 * GREATEST(0.0,
       {dlit(math.cos(zen))} * cos(slope_rad)
       + {dlit(math.sin(zen))} * sin(slope_rad)
         * cos({dlit(az)} - CASE WHEN sx = 0 AND sy = 0 THEN 0.0
                                 ELSE aspect_raw * pi() / 180.0 END)), {round_dp}) END AS hillshade
FROM t"""


def hillshade_multidirectional(
    px: DataFrame,
    cellsize: tuple[float, float],
    zfactor: float = 1.0,
    altitude: float = 45.0,
    round_dp: int = 6,
) -> DataFrame:
    """gdaldem -multidirectional hillshade (the documented Mark 1992
    form GDAL implements): hillshades from azimuths 225/270/315/360
    combined with weights sin²(aspect − azimuth),

        md = Σ wᵢ·hsᵢ / Σ wᵢ,   wᵢ = sin²(aspect − azᵢ)

    over the same exact-integer Horn sums as slope/aspect/hillshade
    (NULL on cells without a full 3×3 window). Flat cells (both
    weighted sums exactly 0) have no aspect: every directional
    hillshade degenerates to 255·cos(zen), so md is defined as that
    constant there (the single-azimuth flat rule). Σwᵢ = Σ sin²(aspect − azᵢ) over the four fixed azimuths is
    2 identically, so the quotient is always defined."""
    full, flat, slope_rad, aspect = _horn_derivatives(cellsize, zfactor)
    asp_rad = aspect * F.lit(math.pi / 180.0)
    zen = math.radians(90.0 - altitude)
    num = F.lit(0.0)
    den = F.lit(0.0)
    for az_deg in (225.0, 270.0, 315.0, 360.0):
        az = math.radians(az_deg)
        hs_i = F.lit(255.0) * F.greatest(
            F.lit(0.0),
            F.lit(math.cos(zen)) * F.cos(slope_rad)
            + F.lit(math.sin(zen)) * F.sin(slope_rad)
            * F.cos(F.lit(az) - asp_rad),
        )
        w_i = F.pow(F.sin(asp_rad - F.lit(az)), F.lit(2.0))
        num = num + w_i * hs_i
        den = den + w_i
    md = F.when(flat, F.lit(255.0 * math.cos(zen))).otherwise(num / den)
    return _stencil(px, _horn_stencil, _HORN_SCHEMA).select(
        "row", "col", "value",
        F.when(full, F.round(md, round_dp)).alias("hillshade_md"),
    )


def hillshade_md_sql(px_cte: str, cellsize: tuple[float, float],
                     zfactor: float = 1.0, altitude: float = 45.0,
                     round_dp: int = 6) -> str:
    """DuckDB oracle emitting the identical expression chain."""
    from .reproject import dlit

    cx, cy = cellsize
    offsets = ", ".join(f"({dr}, {dc}, {wx}, {wy})"
                        for dr, dc, wx, wy in HORN_OFFSETS)
    zen = math.radians(90.0 - altitude)
    terms_n, terms_d = [], []
    for az_deg in (225.0, 270.0, 315.0, 360.0):
        az = math.radians(az_deg)
        hs = (f"255.0 * GREATEST(0.0, {dlit(math.cos(zen))} * cos(slope_rad)"
              f" + {dlit(math.sin(zen))} * sin(slope_rad)"
              f" * cos({dlit(az)} - asp_rad))")
        w = f"POW(sin(asp_rad - {dlit(az)}), 2.0)"
        terms_n.append(f"({w}) * ({hs})")
        terms_d.append(f"({w})")
    return f"""WITH {px_cte},
offs(dr, dc, wx, wy) AS (VALUES {offsets}),
cand AS (
  SELECT a.row, a.col, a.value, a.row + o.dr AS r2, a.col + o.dc AS c2, o.wx, o.wy
  FROM px a CROSS JOIN offs o),
sums AS (
  SELECT cand.row, cand.col,
         CAST(MIN(cand.value) AS BIGINT) AS value,
         CAST(SUM(cand.wx * b.value) AS BIGINT) AS sx,
         CAST(SUM(cand.wy * b.value) AS BIGINT) AS sy,
         COUNT(*) AS ncnt
  FROM cand JOIN px b ON b.row = cand.r2 AND b.col = cand.c2
  GROUP BY 1, 2),
d AS (
  SELECT row, col, value, ncnt, sx, sy,
         sx * {dlit(float(zfactor))} / {dlit(8.0 * abs(cx))} AS dzdx,
         sy * {dlit(float(zfactor))} / {dlit(8.0 * abs(cy))} AS dzdy
  FROM sums),
t AS (
  SELECT row, col, value, ncnt, sx, sy,
         atan(sqrt(dzdx * dzdx + dzdy * dzdy)) AS slope_rad,
         (((90.0 - atan2(dzdy, -dzdx) * 180.0 / pi()) % 360.0 + 360.0) % 360.0)
           * {dlit(math.pi / 180.0)} AS asp_rad
  FROM d)
SELECT p.row, p.col, CAST(p.value AS BIGINT) AS value,
  CASE WHEN t.ncnt = 8 THEN ROUND(
    CASE WHEN t.sx = 0 AND t.sy = 0 THEN {dlit(255.0 * math.cos(zen))}
         ELSE (0.0 + {' + '.join(terms_n)}) / (0.0 + {' + '.join(terms_d)})
    END, {round_dp}) END AS hillshade_md
FROM px p LEFT JOIN t ON t.row = p.row AND t.col = p.col"""


# ---------------------------------------------------------------------------
# gdaldem TPI / TRI / roughness + color-relief (the remaining gdaldem
# modes next to slope/aspect/hillshade; same reference escape-hatch
# surface, README.md:70-76).
# ---------------------------------------------------------------------------

def _tpi_stencil(swv, swm):
    """Per window: the center value and, over its valid neighbors, Σv,
    Σ|d|, Σd² (d = neighbor − center), max − min of the whole 3×3
    (read only where all 8 neighbors are valid) and their count."""
    v = int_window(swv, swm)
    z = v[:, :, 1, 1]
    d = np.where(swm, v - z[:, :, None, None], 0)
    return {
        "value": z,
        "snb": v.sum(axis=(2, 3)) - z,
        "sabs": np.abs(d).sum(axis=(2, 3)),
        "ssq": (d * d).sum(axis=(2, 3)),
        "rough": v.max(axis=(2, 3)) - v.min(axis=(2, 3)),
        "ncnt": _neighbor_count(swm),
    }


def tpi_tri_roughness(px: DataFrame, round_dp: int = 6) -> DataFrame:
    """Per-cell gdaldem window statistics from one 3×3 stencil:

      tpi        = z − mean(8 neighbors)          (Topographic Position)
      tri_wilson = mean(|z − neighbor|)           (gdaldem TRI default)
      tri_riley  = sqrt(Σ (z − neighbor)²)        (gdaldem -alg Riley)
      roughness  = max − min of the full 3×3      (exact BIGINT)

    The neighbor sums (Σv, Σ|d|, Σd², max − min) are EXACT integers for
    integer rasters; only the final /8 and sqrt are doubles. Cells
    without a full 3×3 window emit NULLs (the slope/aspect edge
    convention — gdaldem likewise writes nodata there)."""
    out = _stencil(px, _tpi_stencil,
                   "row long, col long, value long, snb long, sabs long, "
                   "ssq long, rough long, ncnt long")
    full = F.col("ncnt") == 8
    return out.select(
        "row", "col", "value",
        F.when(full, F.round(
            F.col("value") - F.col("snb") / F.lit(8.0), round_dp)).alias("tpi"),
        F.when(full, F.round(
            F.col("sabs") / F.lit(8.0), round_dp)).alias("tri_wilson"),
        F.when(full, F.round(
            F.sqrt(F.col("ssq").cast("double")), round_dp)).alias("tri_riley"),
        F.when(full, F.col("rough")).alias("roughness"),
    )


def tpi_sql(px_cte: str, round_dp: int = 6) -> str:
    """DuckDB oracle for tpi_tri_roughness: the identical exact-integer
    sums and the identical double expression chain."""
    offsets = ", ".join(
        f"({dr}, {dc})" for dr in (-1, 0, 1) for dc in (-1, 0, 1)
        if (dr, dc) != (0, 0))
    return f"""WITH {px_cte},
offs(dr, dc) AS (VALUES {offsets}),
cand AS (
  SELECT a.row, a.col, a.value, a.row + o.dr AS r2, a.col + o.dc AS c2
  FROM px a CROSS JOIN offs o),
sums AS (
  SELECT cand.row, cand.col,
         CAST(MIN(cand.value) AS BIGINT) AS value,
         CAST(SUM(b.value) AS BIGINT) AS snb,
         CAST(SUM(ABS(b.value - cand.value)) AS BIGINT) AS sabs,
         CAST(SUM((b.value - cand.value) * (b.value - cand.value)) AS BIGINT) AS ssq,
         CAST(MAX(b.value) AS BIGINT) AS mx,
         CAST(MIN(b.value) AS BIGINT) AS mn,
         COUNT(*) AS ncnt
  FROM cand JOIN px b ON b.row = cand.r2 AND b.col = cand.c2
  GROUP BY 1, 2)
SELECT p.row, p.col, CAST(p.value AS BIGINT) AS value,
  CASE WHEN s.ncnt = 8 THEN ROUND(p.value - s.snb / 8.0, {round_dp}) END AS tpi,
  CASE WHEN s.ncnt = 8 THEN ROUND(s.sabs / 8.0, {round_dp}) END AS tri_wilson,
  CASE WHEN s.ncnt = 8 THEN ROUND(SQRT(CAST(s.ssq AS DOUBLE)), {round_dp}) END AS tri_riley,
  CASE WHEN s.ncnt = 8 THEN CAST(GREATEST(s.mx, p.value)
                                 - LEAST(s.mn, p.value) AS BIGINT) END AS roughness
FROM px p LEFT JOIN sums s ON s.row = p.row AND s.col = p.col"""


def color_relief(px: DataFrame, ramp, value_col: str = "value") -> DataFrame:
    """gdaldem color-relief: elevation → (r, g, b) through a color ramp
    ``[(v, r, g, b), ...]`` (sorted by v) with linear interpolation
    between bracketing entries, clamped to the end colors outside the
    ramp (gdaldem's default interpolation mode).

    Spark-first plan: the ramp becomes SEGMENTS [(lo, hi) half-open,
    plus ±inf clamp segments) in a BROADCAST range join — one small
    build side, no per-entry codegen blowup for long ramps, pixels
    never shuffle. Channel rounding is floor(x + 0.5) (HALF_UP),
    expressed identically in the SQL oracle."""
    spark = px.sparkSession
    ramp = sorted((float(v), int(r), int(g), int(b)) for v, r, g, b in ramp)
    if len(ramp) < 2:
        raise ValueError("color_relief: ramp needs >= 2 entries")
    if len({v for v, *_ in ramp}) != len(ramp):
        raise ValueError("color_relief: duplicate ramp values")
    segs = []
    v0, r0, g0, b0 = ramp[0]
    segs.append((float("-inf"), v0, r0, g0, b0, r0, g0, b0))
    for (lo, r1, g1, b1), (hi, r2, g2, b2) in zip(ramp, ramp[1:]):
        segs.append((lo, hi, r1, g1, b1, r2, g2, b2))
    vn, rn, gn, bn = ramp[-1]
    segs.append((vn, float("inf"), rn, gn, bn, rn, gn, bn))
    sdf = spark.createDataFrame(
        segs, "lo double, hi double, r0 int, g0 int, b0 int, "
              "r1 int, g1 int, b1 int")
    v = F.col(value_col).cast("double")
    span = F.col("hi") - F.col("lo")  # infinite on the clamp segments
    t = F.when(span < F.lit(float("inf")),
               (v - F.col("lo")) / span).otherwise(F.lit(0.0))
    joined = px.join(
        F.broadcast(sdf), (v >= F.col("lo")) & (v < F.col("hi")))

    def chan(c0, c1):
        return F.floor(F.col(c0) + t * (F.col(c1) - F.col(c0))
                       + F.lit(0.5)).cast("int")

    return joined.select(
        *px.columns,
        chan("r0", "r1").alias("r"),
        chan("g0", "g1").alias("g"),
        chan("b0", "b1").alias("b"),
    )


def color_relief_sql(px_cte: str, ramp) -> str:
    """DuckDB oracle: the same segments as a CASE chain with the same
    floor(x + 0.5) channel rounding."""
    from .reproject import dlit

    ramp = sorted((float(v), int(r), int(g), int(b)) for v, r, g, b in ramp)
    cases = {}
    for ch in range(3):
        arms = [f"WHEN value < {dlit(ramp[0][0])} THEN {ramp[0][1 + ch]}"]
        for (lo, *c1), (hi, *c2) in zip(ramp, ramp[1:]):
            t = (f"(CAST(value AS DOUBLE) - {dlit(lo)})"
                 f" / ({dlit(hi)} - {dlit(lo)})")
            arms.append(
                f"WHEN value < {dlit(hi)} THEN CAST(FLOOR({c1[ch]}"
                f" + {t} * ({c2[ch]} - {c1[ch]}) + 0.5) AS INT)")
        arms.append(f"ELSE {ramp[-1][1 + ch]}")
        cases["rgb"[ch]] = "CASE " + " ".join(arms) + " END"
    return f"""WITH {px_cte}
SELECT px.*,
  CAST({cases['r']} AS INT) AS r,
  CAST({cases['g']} AS INT) AS g,
  CAST({cases['b']} AS INT) AS b
FROM px"""


# ---------------------------------------------------------------------------
# D8 hydrology: flow direction + flow accumulation.
# ---------------------------------------------------------------------------

# ESRI power-of-2 direction codes, with the exact-integer descent score:
# steepest drop RATE Δ/d compared via Δ²·(2 if straight else 1) — both
# sides integer (d² ∈ {1,2}; Δ ≥ 0 so squaring preserves order), so the
# argmax is engine-exact with the (score DESC, code ASC) tie-break.
D8_OFFSETS = [
    (0, 1, 1, 2),     # E
    (1, 1, 2, 1),     # SE
    (1, 0, 4, 2),     # S
    (1, -1, 8, 1),    # SW
    (0, -1, 16, 2),   # W
    (-1, -1, 32, 1),  # NW
    (-1, 0, 64, 2),   # N
    (-1, 1, 128, 1),  # NE
]
_D8_STEP = {code: (dr, dc) for dr, dc, code, _ in D8_OFFSETS}
_D8_CODES = np.array([code for _, _, code, _ in D8_OFFSETS], dtype=np.int64)


def _d8_stencil(swv, swm):
    """Per window: the center value and its D8 code — the 8 scores in
    D8_OFFSETS (code) order, strict descent only; the first maximum
    wins, and 0 when no neighbor is lower."""
    v = int_window(swv, swm)
    z = v[:, :, 1, 1]
    score = np.zeros(z.shape + (len(D8_OFFSETS),), dtype=np.int64)
    for i, (dr, dc, _, wt) in enumerate(D8_OFFSETS):
        d = z - v[:, :, 1 + dr, 1 + dc]
        score[:, :, i] = np.where(swm[:, :, 1 + dr, 1 + dc] & (d > 0), d * d * wt, 0)
    best = score.argmax(axis=2)
    return {"value": z,
            "d8": np.where(score.max(axis=2) > 0, _D8_CODES[best], 0)}


def d8_flow_direction(px: DataFrame) -> DataFrame:
    """(row, col, value, d8): steepest-descent D8 code (0 = pit/flat —
    no strictly lower neighbor). Unit-grid D8 (standard for square-ish
    cells); STRICT descent only, ties to the smallest code."""
    return _stencil(px, _d8_stencil, "row long, col long, value long, d8 long")


def d8_sql(px_cte: str) -> str:
    """DuckDB oracle CTE chain ending in d8(row, col, value, d8)."""
    offsets = ", ".join(f"({dr}, {dc}, {code}, {wt})" for dr, dc, code, wt in D8_OFFSETS)
    return f"""{px_cte},
d8offs(dr, dc, code, wt) AS (VALUES {offsets}),
d8cand0 AS (
  -- keys precomputed BEFORE the equi-join: putting a.row + o.dr inside
  -- the join condition makes DuckDB nested-loop (100x slower)
  SELECT a.row, a.col, a.value, o.code, o.wt,
         a.row + o.dr AS r2, a.col + o.dc AS c2
  FROM px a CROSS JOIN d8offs o),
d8cand AS (
  SELECT c0.row, c0.col, c0.value, c0.code,
         (c0.value - b.value) * (c0.value - b.value) * c0.wt AS score
  FROM d8cand0 c0 JOIN px b ON b.row = c0.r2 AND b.col = c0.c2
  WHERE b.value < c0.value),
d8best AS (
  SELECT row, col, code FROM d8cand
  QUALIFY ROW_NUMBER() OVER (PARTITION BY row, col ORDER BY score DESC, code ASC) = 1),
d8 AS (
  SELECT px.row, px.col, CAST(px.value AS BIGINT) AS value,
         CAST(COALESCE(d8best.code, 0) AS BIGINT) AS d8
  FROM px LEFT JOIN d8best ON d8best.row = px.row AND d8best.col = px.col)"""


#: round count of the most recent flow_accumulation() pointer-jumping
#: loop — read by the scale-guard test to pin the O(log n) bound.
LAST_FLOW_ACC_ROUNDS = 0

_CID_SHIFT = 30  # cell id = row << 30 | col; arc id = cell id * 2 + kind


def flow_accumulation(px: DataFrame, max_rounds: int = 64) -> DataFrame:
    """(row, col, acc): number of cells draining through each cell
    INCLUDING itself (D8 steepest descent; pits absorb their basin).

    acc(v) is the size of v's subtree in the drainage forest (edges
    point upstream→downstream, so a cell's subtree is everything that
    drains through it).  Computed scale-safely in **O(log n) Spark
    rounds** — NOT one round per flow-path cell — via the classic
    parallel Euler-tour technique:

      1. Build the Euler tour of each drainage tree as a linked list of
         2 arcs per non-root cell (down-arc ``parent→v`` id ``2v``,
         up-arc ``v→parent`` id ``2v+1``); successor pointers come from
         per-parent sibling windows (first-child / next-sibling), all
         DataFrame ops.
      2. List-rank the tour by pointer jumping: each round every arc's
         pointer doubles its reach (``val += val[ptr]; ptr = ptr[ptr]``,
         one self-equi-join per round), so ⌈log2 tour length⌉ rounds
         total — the same doubling trick as the distributed polygonize
         label merge (algebra.py `_merge_labels_distributed`).
      3. subtree(v) = (rank_end(down_v) − rank_end(up_v) + 1) / 2; a
         root's acc is 1 + Σ subtree(children); isolated cells are 1.

    On a continental DEM whose major river is 10^5 cells long this is
    ~2·log2(basin) ≈ 70 rounds instead of 10^5.  The round count of the
    last call is published as ``LAST_FLOW_ACC_ROUNDS``."""
    global LAST_FLOW_ACC_ROUNDS
    d8 = d8_flow_direction(px).persist()
    bounds = d8.agg(
        F.min("row").alias("r0"), F.max("row").alias("r1"),
        F.min("col").alias("c0"), F.max("col").alias("c1"),
    ).first()
    if bounds.r1 is not None and (
        bounds.r0 < 0 or bounds.c0 < 0
        or bounds.r1 >= (1 << _CID_SHIFT) or bounds.c1 >= (1 << _CID_SHIFT)
    ):
        d8.unpersist()
        raise ValueError(
            "flow_accumulation cell-id packing needs 0 <= row, col < 2^30")

    def cid(r, c):
        return (F.col(r).cast("long") * F.lit(1 << _CID_SHIFT) + F.col(c)).alias("_cid")

    step = F.create_map(*[
        x for code, (dr, dc) in _D8_STEP.items()
        for x in (F.lit(code), F.struct(F.lit(dr).alias("dr"), F.lit(dc).alias("dc")))
    ])
    # child → parent edges on packed cell ids (border outflow has no edge)
    edges = (
        d8.filter(F.col("d8") > 0)
        .withColumn("_s", step[F.col("d8")])
        .select(
            F.col("row").alias("urow"), F.col("col").alias("ucol"),
            (F.col("row") + F.col("_s.dr")).alias("row"),
            (F.col("col") + F.col("_s.dc")).alias("col"),
        )
        .join(d8.select("row", "col"), ["row", "col"], "left_semi")
        .select(cid("urow", "ucol").alias("child"), cid("row", "col").alias("parent"))
        .localCheckpoint(eager=True)
    )
    # deterministic sibling order by child id: first child + next sibling
    wsib = W.partitionBy("parent").orderBy("child")
    sib = edges.select(
        "child", "parent",
        F.lead("child").over(wsib).alias("next_sib"),
        F.row_number().over(wsib).alias("_rn"),
    )
    first_child = sib.filter(F.col("_rn") == 1).select(
        F.col("parent").alias("child"), F.col("child").alias("fc"))
    grandparent = edges.select(
        F.col("child").alias("parent"), F.col("parent").alias("gp"))
    base = (
        sib.join(first_child, "child", "left")
        .join(grandparent, "parent", "left")
    )
    # Euler-tour successor pointers (null = tour end at the root):
    #   succ(down v) = first child's down-arc, else v's own up-arc
    #   succ(up v)   = next sibling's down-arc, else parent's up-arc
    #                  (null when the parent is a root)
    down = base.select(
        (F.col("child") * 2).alias("arc"),
        F.coalesce(F.col("fc") * 2, F.col("child") * 2 + 1).alias("ptr"),
    )
    up = base.select(
        (F.col("child") * 2 + 1).alias("arc"),
        F.when(F.col("next_sib").isNotNull(), F.col("next_sib") * 2)
        .otherwise(F.when(F.col("gp").isNotNull(), F.col("parent") * 2 + 1))
        .alias("ptr"),
    )
    cur = down.unionByName(up).select(
        "arc", "ptr", F.lit(1).cast("long").alias("val"))
    cur = cur.localCheckpoint(eager=True)
    # pointer jumping: invariant rank_end(x) = val(x) + rank_end(ptr(x))
    it = 0
    while cur.filter(F.col("ptr").isNotNull()).limit(1).count() > 0:
        it += 1
        if it > max_rounds:
            d8.unpersist()
            raise RuntimeError(
                f"flow_accumulation pointer jumping exceeded {max_rounds} "
                "rounds — impossible for any finite grid (rounds are "
                "logarithmic in tour length); the D8 graph must be corrupt")
        hop = cur.select(
            F.col("arc").alias("ptr"),
            F.col("ptr").alias("pptr"),
            F.col("val").alias("pval"),
        )
        cur = (
            cur.join(hop, "ptr", "left")
            .select(
                "arc",
                F.when(F.col("ptr").isNull(), F.lit(None).cast("long"))
                .otherwise(F.col("pptr")).alias("ptr"),
                F.when(F.col("ptr").isNull(), F.col("val"))
                .otherwise(F.col("val") + F.col("pval")).alias("val"),
            )
            .localCheckpoint(eager=True)
        )
    LAST_FLOW_ACC_ROUNDS = it
    # subtree(v) = (rank_end(down) - rank_end(up) + 1) / 2 — all id
    # arithmetic in INTEGER ops (shiftright, not '/': double division
    # loses bits once packed arc ids pass 2^53, silently corrupting
    # the join keys on large grids)
    rank_d = cur.filter(F.col("arc") % 2 == 0).select(
        F.shiftright(F.col("arc"), 1).alias("child"), F.col("val").alias("rd"))
    rank_u = cur.filter(F.col("arc") % 2 == 1).select(
        F.shiftright(F.col("arc"), 1).alias("child"), F.col("val").alias("ru"))
    sub = rank_d.join(rank_u, "child").select(
        "child",
        F.shiftright(F.col("rd") - F.col("ru") + 1, 1).alias("acc"),
    )
    # roots: 1 + sum of children's subtrees (a root never appears as a child)
    root_edges = edges.join(
        edges.select(F.col("child").alias("parent")), "parent", "left_anti")
    root_acc = (
        root_edges.join(sub, "child")
        .groupBy("parent")
        .agg((F.lit(1) + F.sum("acc")).cast("long").alias("racc"))
        .select(F.col("parent").alias("_cid"), "racc")
    )
    out = (
        d8.select("row", "col", cid("row", "col"))
        .join(sub.select(F.col("child").alias("_cid"), F.col("acc").alias("sacc")),
              "_cid", "left")
        .join(root_acc, "_cid", "left")
        .select(
            "row", "col",
            F.coalesce(F.col("sacc"), F.col("racc"), F.lit(1)).cast("long").alias("acc"),
        )
    )
    out = out.localCheckpoint(eager=True)
    d8.unpersist()
    return out


def flow_accumulation_sql(px_cte: str) -> str:
    """DuckDB oracle: downstream-reach recursive closure — acc(d) =
    COUNT of cells c (including d) whose flow path passes through d.
    Tuple count = Σ path lengths (short on rough fields)."""
    return f"""WITH RECURSIVE {d8_sql(px_cte)},
e AS MATERIALIZED (
  SELECT d8.row AS urow, d8.col AS ucol,
         d8.row + CASE d8.d8 WHEN 1 THEN 0 WHEN 2 THEN 1 WHEN 4 THEN 1 WHEN 8 THEN 1
                             WHEN 16 THEN 0 WHEN 32 THEN -1 WHEN 64 THEN -1 WHEN 128 THEN -1 END AS row,
         d8.col + CASE d8.d8 WHEN 1 THEN 1 WHEN 2 THEN 1 WHEN 4 THEN 0 WHEN 8 THEN -1
                             WHEN 16 THEN -1 WHEN 32 THEN -1 WHEN 64 THEN 0 WHEN 128 THEN 1 END AS col
  FROM d8 WHERE d8.d8 > 0),
e2 AS MATERIALIZED (
  SELECT e.urow, e.ucol, e.row, e.col FROM e
  JOIN d8 t ON t.row = e.row AND t.col = e.col),
reach AS (
  SELECT row, col, row AS ar, col AS ac FROM d8
  UNION
  SELECT reach.row, reach.col, e2.row AS ar, e2.col AS ac
  FROM reach JOIN e2 ON e2.urow = reach.ar AND e2.ucol = reach.ac)
SELECT ar AS row, ac AS col, CAST(COUNT(*) AS BIGINT) AS acc
FROM reach GROUP BY 1, 2"""
