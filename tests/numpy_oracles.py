"""Independent numpy references for the warp, terrain, zonal and
point-lookup tests.

Check code only: the engine never imports this module.  The zonal
reference tests every cell center of the stitched grid against each
zone — no tiles, no bbox prefilter, no Spark.  Two kinds of warp
reference live here:

* closed-form oracles (CEA, WebMercator, sinusoidal) that spell each
  inverse out on their own, sharing only the target lattice
  (``reproject.any_bounds``) with the engine;
* ``reproject_any_*`` oracles that compose the engine's numpy CRS
  functions (``reproject.crs_funcs``) and check the gather, kernel and
  bucket arithmetic around them.

Every gather uses the engine-stable rule of the reproject module
docstring: the fractional source index is rounded to ``_Q`` decimals
before floor.
"""

from __future__ import annotations

import math

import numpy as np

import pandas as pd

from georasters_spark.functions import geometry as geom
from georasters_spark.operators import reproject as RP
from georasters_spark.operators.terrain import HORN_OFFSETS
from georasters_spark.sources import synth

R, _Q = RP.R, RP._Q


def _lattice(src_crs, dst_crs, src_origin, src_cellsize, src_shape, out_shape,
             bbox_lonlat=None, n_samples: int = 64):
    """Target cell centers (xm, ym) on the any_bounds lattice, row 0 at
    the top (max y)."""
    th, tw = out_shape
    X0, Ymin, X1, Ymax = RP.any_bounds(src_crs, dst_crs, src_origin, src_cellsize,
                                       src_shape, bbox_lonlat, n_samples)
    tcx = (X1 - X0) / tw
    tcy = (Ymin - Ymax) / th
    tr, tc = np.meshgrid(np.arange(th), np.arange(tw), indexing="ij")
    return X0 + (tc + 0.5) * tcx, Ymax + (tr + 0.5) * tcy


def _nearest(full, ndv, lon, lat, src_origin, src_cellsize, out_shape):
    h, w = full.shape
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    srow = np.floor(np.round((lat - y0g) / cy, _Q)).astype(np.int64)
    scol = np.floor(np.round((lon - x0g) / cx, _Q)).astype(np.int64)
    out = np.full(out_shape, ndv)
    ok = (srow >= 0) & (srow < h) & (scol >= 0) & (scol < w)
    out[ok] = full[srow[ok], scol[ok]]
    return out


def _renormalized(full, ndv, u, v, offs, wf, guard):
    """Nodata-aware convolution over the (rounded) center-based source
    index (u, v): valid neighbors only, weights renormalized; cells
    whose weight mass fails ``guard`` get nan.  Returns
    (value, n_contrib)."""
    h, w = full.shape
    r0 = np.floor(u).astype(np.int64)
    c0 = np.floor(v).astype(np.int64)
    du, dv = u - r0, v - c0
    valid = full != ndv
    num = np.zeros(u.shape)
    den = np.zeros(u.shape)
    cnt = np.zeros(u.shape, dtype=np.int64)
    for i in offs:
        for j in offs:
            rr, cc = r0 + i, c0 + j
            ok = (rr >= 0) & (rr < h) & (cc >= 0) & (cc < w)
            ok &= valid[np.clip(rr, 0, h - 1), np.clip(cc, 0, w - 1)]
            wgt = wf(np.abs(i - du)) * wf(np.abs(j - dv))
            num[ok] += wgt[ok] * full[rr[ok], cc[ok]]
            den[ok] += wgt[ok]
            cnt[ok] += 1
    out = np.full(u.shape, np.nan)
    nz = guard(den)
    out[nz] = num[nz] / den[nz]
    return out, cnt


def _bilinear_wf(t):
    return 1.0 - t


def _positive(den):
    return den > 0


def _mass(den):
    return np.abs(den) >= 0.05  # the engine's signed weight-mass guard


def _np_kernel_wfun(kernel: str, a: int = 3):
    """(offsets, weight function) of a named convolution kernel, written
    independently of the engine's Column and numpy twins."""
    if kernel == "catmull":
        return (-1, 0, 1, 2), lambda t: np.where(
            t <= 1.0, 1.5 * t**3 - 2.5 * t**2 + 1.0,
            -0.5 * t**3 + 2.5 * t**2 - 4.0 * t + 2.0)
    if kernel == "bspline":
        return (-1, 0, 1, 2), lambda t: np.where(
            t <= 1.0, (4.0 - 6.0 * t**2 + 3.0 * t**3) / 6.0,
            (2.0 - t) ** 3 / 6.0)
    if kernel == "lanczos":

        def lanc(t):
            t = np.asarray(t, np.float64)
            pit = np.pi * t
            sinc = np.where(t == 0.0, 1.0, np.sin(pit) / np.where(pit == 0, 1, pit))
            pita = pit / a
            sinca = np.where(t == 0.0, 1.0,
                             np.sin(pita) / np.where(pita == 0, 1, pita))
            return np.where(t < a, sinc * sinca, 0.0)

        return tuple(range(1 - a, a + 1)), lanc
    raise ValueError(f"unknown resampling kernel {kernel!r}")


# ---------------------------------------------------------------------------
# closed-form WGS84 -> CEA / WebMercator / sinusoidal references
# ---------------------------------------------------------------------------

# λ = X/R in degrees, associated as the engine does (X / R / (π/180)):
# a linear lon lattice hits exact 4-dp ties of the fractional source
# index, where the half-up rounding direction follows the last bit
def _lon(xm):
    return xm / R / (math.pi / 180.0)


def _cea_lonlat(full, src_origin, src_cellsize, out_shape):
    xm, ym = _lattice(4326, "cea", src_origin, src_cellsize, full.shape, out_shape)
    return _lon(xm), np.arcsin(ym * (1.0 / R)) * 180.0 / np.pi


def _webmerc_lonlat(full, src_origin, src_cellsize, out_shape):
    xm, ym = _lattice(4326, 3857, src_origin, src_cellsize, full.shape, out_shape)
    return _lon(xm), (2.0 * np.arctan(np.exp(ym / R)) - np.pi / 2) * 180.0 / np.pi


def warp_numpy_oracle(full, ndv, src_origin, src_cellsize, out_shape):
    """WGS84 -> CEA nearest (mirrors the reference's
    tests/test_georasters.py:315-397 shape)."""
    lon, lat = _cea_lonlat(full, src_origin, src_cellsize, out_shape)
    return _nearest(full, ndv, lon, lat, src_origin, src_cellsize, out_shape)


def webmercator_numpy_oracle(full, ndv, src_origin, src_cellsize, out_shape):
    """WGS84 -> WebMercator nearest, φ = 2·atan(exp(Y/R)) − π/2."""
    lon, lat = _webmerc_lonlat(full, src_origin, src_cellsize, out_shape)
    return _nearest(full, ndv, lon, lat, src_origin, src_cellsize, out_shape)


def sinusoidal_numpy_oracle(full, ndv, src_origin, src_cellsize, out_shape):
    """WGS84 -> sinusoidal nearest: φ = y/R, λ = x/(R·cos φ)."""
    xm, ym = _lattice(4326, "+proj=sinu", src_origin, src_cellsize, full.shape, out_shape)
    lat = ym / R * 180.0 / np.pi
    lon = xm / (R * np.cos(ym / R)) * 180.0 / np.pi
    return _nearest(full, ndv, lon, lat, src_origin, src_cellsize, out_shape)


def _round_half_up(arr: np.ndarray, q: int) -> np.ndarray:
    """Element-wise decimal round emulating Spark's F.round exactly:
    Java BigDecimal.valueOf(double) parses Double.toString — the
    SHORTEST uniquely-identifying decimal repr (== Python repr) — then
    setScale(q, HALF_UP)."""
    from decimal import ROUND_HALF_UP, Decimal

    quantum = Decimal(1).scaleb(-q)
    flat = [
        float(Decimal(repr(float(x))).quantize(quantum, ROUND_HALF_UP))
        for x in np.asarray(arr, dtype=np.float64).ravel()
    ]
    return np.asarray(flat, dtype=np.float64).reshape(np.shape(arr))


def _center_uv(lon, lat, src_origin, src_cellsize, rnd=np.round):
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    return (rnd((lat - y0g) / cy - 0.5, _Q), rnd((lon - x0g) / cx - 0.5, _Q))


def cea_bilinear_numpy_oracle(full, ndv, src_origin, src_cellsize, out_shape):
    """WGS84 -> CEA bilinear. Returns (value, n_contrib); value nan
    where no valid neighbor."""
    lon, lat = _cea_lonlat(full, src_origin, src_cellsize, out_shape)
    u, v = _center_uv(lon, lat, src_origin, src_cellsize)
    return _renormalized(full, ndv, u, v, (0, 1), _bilinear_wf, _positive)


def webmercator_bilinear_numpy_oracle(full, ndv, src_origin, src_cellsize,
                                      out_shape):
    """WGS84 -> WebMercator bilinear.  HALF_UP on the shortest decimal
    repr — exactly Spark's F.round: np.round is HALF_EVEN and the
    linear Mercator lon hits exact 4-dp ties (e.g. 34.65625), where the
    two rules diverge by a whole quantum."""
    lon, lat = _webmerc_lonlat(full, src_origin, src_cellsize, out_shape)
    u, v = _center_uv(lon, lat, src_origin, src_cellsize, _round_half_up)
    return _renormalized(full, ndv, u, v, (0, 1), _bilinear_wf, _positive)


def cea_kernel_numpy_oracle(full, ndv, src_origin, src_cellsize, out_shape,
                            kernel: str):
    """WGS84 -> CEA with a convolution kernel (catmull / bspline /
    lanczos a=3).  Returns (value, n_contrib)."""
    lon, lat = _cea_lonlat(full, src_origin, src_cellsize, out_shape)
    u, v = _center_uv(lon, lat, src_origin, src_cellsize)
    offs, wf = _np_kernel_wfun(kernel)
    return _renormalized(full, ndv, u, v, offs, wf, _mass)


def cea_average_numpy_oracle(full, ndv, src_origin, src_cellsize, out_shape):
    """WGS84 -> CEA forward-bucket accumulators: returns (sum, count)."""
    h, w = full.shape
    th, tw = out_shape
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    X0, Y1, X1, Y0 = RP.any_bounds(4326, "cea", src_origin, src_cellsize, (h, w))
    tcx = (X1 - X0) / tw
    tcy = (Y1 - Y0) / th
    rr, cc = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    X = R * np.radians(x0g + (cc + 0.5) * cx)
    Y = R * np.sin(np.radians(y0g + (rr + 0.5) * cy))
    trow = np.floor(np.round((Y - Y0) / tcy, _Q)).astype(np.int64)
    tcol = np.floor(np.round((X - X0) / tcx, _Q)).astype(np.int64)
    ok = (full != ndv) & (trow >= 0) & (trow < th) & (tcol >= 0) & (tcol < tw)
    s = np.zeros(out_shape)
    n = np.zeros(out_shape, dtype=np.int64)
    np.add.at(s, (trow[ok], tcol[ok]), full[ok])
    np.add.at(n, (trow[ok], tcol[ok]), 1)
    return s, n


# ---------------------------------------------------------------------------
# any CRS pair, through the engine's numpy CRS functions
# ---------------------------------------------------------------------------

def reproject_any_source_xy(src_crs, dst_crs, src_origin, src_cellsize,
                            src_shape, out_shape, bbox_lonlat=None,
                            n_samples: int = 64):
    """Source-CRS coordinates of every target cell center."""
    sfn = RP.crs_funcs(RP.parse_crs(src_crs))
    dfn = RP.crs_funcs(RP.parse_crs(dst_crs))
    xm, ym = _lattice(src_crs, dst_crs, src_origin, src_cellsize, src_shape,
                      out_shape, bbox_lonlat, n_samples)
    with np.errstate(all="ignore"):
        return sfn["fwd_np"](*dfn["inv_np"](xm, ym))


def reproject_any_numpy_oracle(full, ndv, src_crs, dst_crs, src_origin,
                               src_cellsize, out_shape, bbox_lonlat=None,
                               n_samples: int = 64):
    """reproject_any nearest."""
    sx, sy = reproject_any_source_xy(src_crs, dst_crs, src_origin, src_cellsize,
                                     full.shape, out_shape, bbox_lonlat, n_samples)
    return _nearest(full, ndv, sx, sy, src_origin, src_cellsize, out_shape)


def reproject_any_kernel_numpy_oracle(full, ndv, src_crs, dst_crs, src_origin,
                                      src_cellsize, out_shape, kernel: str,
                                      bbox_lonlat=None, n_samples: int = 64,
                                      a: int = 3):
    """reproject_any with a convolution kernel (catmull / bspline /
    lanczos).  Returns (value, n_contrib); value nan where no
    estimate."""
    sx, sy = reproject_any_source_xy(src_crs, dst_crs, src_origin, src_cellsize,
                                     full.shape, out_shape, bbox_lonlat, n_samples)
    u, v = _center_uv(sx, sy, src_origin, src_cellsize)
    offs, wf = _np_kernel_wfun(kernel, a)
    return _renormalized(full, ndv, u, v, offs, wf, _mass)


def reproject_any_average_numpy_oracle(full, ndv, src_crs, dst_crs, src_origin,
                                       src_cellsize, out_shape, how: str = "mean",
                                       bbox_lonlat=None, n_samples: int = 64):
    """reproject_any's forward-bucket aggregates.  Returns (value,
    n_contrib); value nan (and count 0) for empty target cells — the
    engine emits no row for those."""
    sfn = RP.crs_funcs(RP.parse_crs(src_crs))
    dfn = RP.crs_funcs(RP.parse_crs(dst_crs))
    h, w = full.shape
    th, tw = out_shape
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    X0, Y0b, X1, Y1b = RP.any_bounds(src_crs, dst_crs, src_origin, src_cellsize,
                                     (h, w), bbox_lonlat, n_samples)
    tcx = (X1 - X0) / tw
    tcy = (Y0b - Y1b) / th
    rr, cc = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    with np.errstate(all="ignore"):
        X, Y = dfn["fwd_np"](*sfn["inv_np"](x0g + (cc + 0.5) * cx,
                                            y0g + (rr + 0.5) * cy))
        trow = np.floor(np.round((Y - Y1b) / tcy, _Q))
        tcol = np.floor(np.round((X - X0) / tcx, _Q))
    ok = ((full != ndv) & (trow >= 0) & (trow < th) & (tcol >= 0) & (tcol < tw))
    val = np.full(out_shape, np.nan)
    cnt = np.zeros(out_shape, dtype=np.int64)
    buckets: dict = {}
    for t_r, t_c, v in zip(trow[ok], tcol[ok], full[ok]):
        buckets.setdefault((int(t_r), int(t_c)), []).append(float(v))
    for (t_r, t_c), vs in buckets.items():
        cnt[t_r, t_c] = len(vs)
        if how == "mean":
            val[t_r, t_c] = sum(vs) / len(vs)
        elif how == "sum":
            val[t_r, t_c] = sum(vs)
        elif how == "min":
            val[t_r, t_c] = min(vs)
        elif how == "max":
            val[t_r, t_c] = max(vs)
        elif how == "count":
            val[t_r, t_c] = len(vs)
        elif how == "mode":
            counts: dict = {}
            for v in vs:
                counts[v] = counts.get(v, 0) + 1
            best = max(counts.items(), key=lambda kv: (kv[1], -kv[0]))
            val[t_r, t_c] = best[0]
        else:
            raise ValueError(f"unknown resampling aggregate {how!r}")
    return val, cnt


# ---------------------------------------------------------------------------
# terrain
# ---------------------------------------------------------------------------

def terrain_numpy_oracle(full: np.ndarray, ndv: float, cellsize: tuple[float, float],
                         zfactor: float = 1.0, azimuth: float = 315.0,
                         altitude: float = 45.0):
    """Horn slope / aspect / hillshade by array shifts: returns
    (slope_deg, aspect_deg, hillshade) with nan where NULL."""
    cx, cy = cellsize
    h, w = full.shape
    valid = full != ndv
    sx = np.zeros((h, w))
    sy = np.zeros((h, w))
    cnt = np.zeros((h, w), dtype=np.int64)
    for dr, dc, wx, wy in HORN_OFFSETS:
        # cell (r, c) gathers neighbor (r+dr, c+dc): dst = the cells,
        # src = the +offset-shifted slice (direction matters — sx/sy
        # are SIGNED; a flipped shift negates both and rotates the
        # aspect by 180°)
        dst = (slice(max(0, -dr), h - max(0, dr)), slice(max(0, -dc), w - max(0, dc)))
        src = (slice(max(0, dr), h + min(0, dr) if dr < 0 else h),
               slice(max(0, dc), w + min(0, dc) if dc < 0 else w))
        ok = valid[dst] & valid[src]
        sx[dst] += np.where(ok, wx * full[src], 0.0)
        sy[dst] += np.where(ok, wy * full[src], 0.0)
        cnt[dst] += ok
    full8 = valid & (cnt == 8)
    dzdx = sx * zfactor / (8.0 * abs(cx))
    dzdy = sy * zfactor / (8.0 * abs(cy))
    slope_rad = np.arctan(np.sqrt(dzdx * dzdx + dzdy * dzdy))
    slope = np.where(full8, np.degrees(slope_rad), np.nan)
    a = np.degrees(np.arctan2(dzdy, -dzdx))
    aspect = np.mod(90.0 - a, 360.0)
    flat = (sx == 0) & (sy == 0)
    aspect = np.where(full8 & ~flat, aspect, np.nan)
    zen = math.radians(90.0 - altitude)
    az = math.radians(azimuth)
    asp_rad = np.where(flat, 0.0, np.radians(np.mod(90.0 - a, 360.0)))
    hs = 255.0 * np.maximum(
        0.0,
        math.cos(zen) * np.cos(slope_rad)
        + math.sin(zen) * np.sin(slope_rad) * np.cos(az - asp_rad),
    )
    hs = np.where(full8, hs, np.nan)
    return slope, aspect, hs


def lookup_numpy_oracle(spec, points: pd.DataFrame) -> pd.DataFrame:
    """map_pixel over a point batch (point_id, x, y): the HALF_EVEN
    nearest cell (``grid.row_of_y`` / ``grid.col_of_x``) of the
    stitched grid as (point_id, prow, pcol, value), value NaN (NULL)
    for masked or off-grid points."""
    full = synth.stitched_array(spec)
    prow = np.round((points["y"].to_numpy() - spec.y0) / spec.celly).astype(np.int64)
    pcol = np.round((points["x"].to_numpy() - spec.x0) / spec.cellx).astype(np.int64)
    on = (prow >= 0) & (prow < spec.height) & (pcol >= 0) & (pcol < spec.width)
    v = full[prow[on], pcol[on]].astype(np.float64)
    v[v == spec.ndv] = np.nan
    value = np.full(len(points), np.nan)
    value[on] = v
    return pd.DataFrame({"point_id": points["point_id"].to_numpy(np.int64),
                         "prow": prow, "pcol": pcol, "value": value})


def zone_values(spec, zones, mode: str = "center") -> dict:
    """{zone_id: int64 values of the valid cells the zone hits} on the
    stitched grid of ``spec``; zones without a hit are absent.
    mode='center' tests the cell center, 'all_touched' the whole cell."""
    full = synth.stitched_array(spec)
    rr, cc = np.nonzero(full != spec.ndv)
    xc = spec.x0 + (cc + 0.5) * spec.cellx
    yc = spec.y0 + (rr + 0.5) * spec.celly
    vals = full[rr, cc].astype(np.int64)
    out = {}
    for z in zones:
        if mode == "center":
            hit = geom.points_in_rings(xc, yc, z.rings)
        else:
            hit = geom.cells_touched(xc, yc, spec.cellx, spec.celly, z.rings)
        if hit.any():
            out[int(z.zone_id)] = vals[hit]
    return out


def zonal_numpy_oracle(spec, zones, mode: str = "center") -> pd.DataFrame:
    """zonal_stats reference, one row per hit zone in zone_id order:
    exact int64 zcount/zsum/zmin/zmax, unrounded zmean/zstd."""
    rows = [
        (zid, v.size, int(v.sum()), int(v.min()), int(v.max()),
         float(v.mean()), float(v.std()))
        for zid, v in sorted(zone_values(spec, zones, mode).items())
    ]
    return pd.DataFrame(rows, columns=["zone_id", "zcount", "zsum", "zmin",
                                       "zmax", "zmean", "zstd"])


def assert_zonal_matches(got: pd.DataFrame, want: pd.DataFrame) -> None:
    """Engine zonal frame vs zonal_numpy_oracle: same zones, integer
    columns exact, zmean/zstd within 1e-6 (the engine rounds to 6 dp)."""
    got = got.sort_values("zone_id").reset_index(drop=True)
    assert got["zone_id"].tolist() == want["zone_id"].tolist()
    for c in ("zcount", "zsum", "zmin", "zmax"):
        assert got[c].tolist() == want[c].tolist(), c
    for c in ("zmean", "zstd"):
        err = np.abs(got[c].to_numpy() - want[c].to_numpy()).max()
        assert err <= 1e-6, (c, err)
