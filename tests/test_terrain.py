"""Terrain derivatives (Horn slope/aspect/hillshade) vs an independent
numpy shift-based implementation."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import numpy_oracles as NO
from georasters_spark.operators import pixels as PX
from georasters_spark.operators import terrain as TR
from georasters_spark.sources import synth


def test_terrain_matches_numpy(spark, images_t1):
    """Dense DEM = the unmasked formula field (the masked table's
    nodata stripes leave ~no full 3x3 windows); the masked/edge NULL
    rule is covered by test_terrain_flat_and_edge_rules and the
    valid-table block below."""
    spec = synth.T1
    rr = np.arange(spec.height)[:, None]
    cc = np.arange(spec.width)[None, :]
    full = synth.field_value(rr, cc, spec.seed).astype(np.float64)
    dem = (
        spark.range(spec.height).select(F.col("id").alias("row"))
        .crossJoin(spark.range(spec.width).select(F.col("id").alias("col")))
        .select("row", "col",
                ((F.col("row") * 7919 + F.col("col") * 104729 + F.lit(spec.seed))
                 % 1997).alias("value"))
    )
    got = TR.slope_aspect_hillshade(
        dem, cellsize=(spec.cellx, spec.celly), zfactor=0.001
    ).toPandas()
    slope, aspect, hs = NO.terrain_numpy_oracle(
        full, -1.0, (spec.cellx, spec.celly), zfactor=0.001
    )
    assert len(got) > 100_000
    n_full = 0
    for t in got.itertuples(index=False):
        es, ea, eh = slope[t.row, t.col], aspect[t.row, t.col], hs[t.row, t.col]
        if t.slope_deg is None or np.isnan(t.slope_deg):
            assert np.isnan(es)
            continue
        n_full += 1
        assert abs(t.slope_deg - es) < 1e-5
        assert abs(t.hillshade - eh) < 1e-4
        if t.aspect_deg is None or (isinstance(t.aspect_deg, float) and np.isnan(t.aspect_deg)):
            assert np.isnan(ea)
        else:
            # compass wrap: 0 == 360
            d = abs(t.aspect_deg - ea) % 360.0
            assert min(d, 360.0 - d) < 1e-5
    assert n_full > 50_000  # interior cells really exercised
    # sanity: slopes land in (0, 90), hillshade in [0, 255]
    v = got.dropna(subset=["slope_deg"])
    assert (v.slope_deg >= 0).all() and (v.slope_deg < 90).all()
    assert (v.hillshade >= 0).all() and (v.hillshade <= 255).all()


def test_terrain_flat_and_edge_rules(spark):
    """A constant 5x5 patch: interior cells are FLAT (slope 0, aspect
    NULL, hillshade = 255*cos(zen)); edge cells have NULL derivatives."""
    import math

    rows = [(r, c, 7) for r in range(5) for c in range(5)]
    px = spark.createDataFrame(pd.DataFrame(rows, columns=["row", "col", "value"]),
                               "row long, col long, value long")
    out = TR.slope_aspect_hillshade(px, cellsize=(1.0, -1.0)).toPandas()
    inner = out[(out.row.between(1, 3)) & (out.col.between(1, 3))]
    assert (inner.slope_deg == 0.0).all()
    assert inner.aspect_deg.isna().all()
    want_hs = round(255.0 * math.cos(math.radians(45.0)), 6)
    assert (inner.hillshade == want_hs).all()
    edge = out[(out.row == 0)]
    assert edge.slope_deg.isna().all()


def test_d8_and_flow_accumulation_vs_numpy(spark):
    """D8 directions and accumulation vs a direct numpy topological
    computation on a small dense DEM; accumulation conserves mass
    (every cell contributes once to each pit it drains to)."""
    h, w = 60, 80
    rr = np.arange(h)[:, None]
    cc = np.arange(w)[None, :]
    full = synth.field_value(rr, cc, 42).astype(np.int64)
    dem = spark.createDataFrame(
        [(int(r), int(c), int(full[r, c])) for r in range(h) for c in range(w)],
        "row long, col long, value long",
    )
    got_d8 = TR.d8_flow_direction(dem).toPandas()
    # numpy D8: exact-integer steepest descent, smallest-code ties
    exp_d8 = np.zeros((h, w), dtype=np.int64)
    for r in range(h):
        for c in range(w):
            best = (0, 0)  # (score, -code) lexicographic max, code asc
            for dr, dc, code, wt in TR.D8_OFFSETS:
                nr, nc = r + dr, c + dc
                if 0 <= nr < h and 0 <= nc < w and full[nr, nc] < full[r, c]:
                    d = int(full[r, c] - full[nr, nc])
                    score = d * d * wt
                    if best == (0, 0) or (score, -code) > (best[0], -best[1]):
                        best = (score, code)
            exp_d8[r, c] = best[1]
    for t in got_d8.itertuples(index=False):
        assert t.d8 == exp_d8[t.row, t.col], (t.row, t.col)

    acc = TR.flow_accumulation(dem).toPandas()
    # numpy accumulation: walk every cell's flow path
    exp_acc = np.zeros((h, w), dtype=np.int64)
    for r in range(h):
        for c in range(w):
            cr, cc2 = r, c
            exp_acc[cr, cc2] += 1
            while exp_d8[cr, cc2] != 0:
                dr, dc = TR._D8_STEP[int(exp_d8[cr, cc2])]
                nr, nc = cr + dr, cc2 + dc
                if not (0 <= nr < h and 0 <= nc < w):
                    break
                cr, cc2 = nr, nc
                exp_acc[cr, cc2] += 1
    assert len(acc) == h * w
    for t in acc.itertuples(index=False):
        assert t.acc == exp_acc[t.row, t.col], (t.row, t.col)
    assert acc["acc"].max() > 5  # real confluence happens


def _assert_terrain_matches_numpy(got, full, ndv, **kw) -> int:
    """One row per valid cell of `full`, its value, and slope / aspect /
    hillshade equal to the numpy shift oracle (NULL exactly where the
    oracle has nan); returns the number of full 3x3 windows."""
    slope, aspect, hs = NO.terrain_numpy_oracle(full, ndv, **kw)
    valid = full != ndv
    r, c = got.row.to_numpy(), got.col.to_numpy()
    assert len(got) == int(valid.sum()) and valid[r, c].all()
    assert len(set(zip(r.tolist(), c.tolist()))) == len(got)
    assert (got.value.to_numpy() == full[r, c]).all()
    for col, exp, tol in (("slope_deg", slope, 1e-5), ("aspect_deg", aspect, 1e-5),
                          ("hillshade", hs, 1e-4)):
        g = got[col].to_numpy(dtype=np.float64)
        e = exp[r, c]
        assert (np.isnan(g) == np.isnan(e)).all(), col
        d = np.abs(g - e)[~np.isnan(e)]
        if col == "aspect_deg":  # compass wrap: 0 == 360
            d = np.minimum(d % 360.0, 360.0 - d % 360.0)
        assert (d < tol).all(), col
    return int((~np.isnan(slope)).sum())


def test_terrain_pixel_and_tiles_paths_match_numpy(spark, images_t1):
    """The pixel halo path and the images= tiles path each equal the
    numpy oracle cell for cell: on the masked T1 grid (tile seams,
    grid edges, diagonal nodata stripes) and on a dense DEM with
    scattered nodata holes re-tiled at 64 px (full windows next to
    holes and across seams)."""
    spec = synth.T1
    kw = dict(cellsize=(spec.cellx, spec.celly), zfactor=0.001)
    full = synth.stitched_array(spec).astype(np.int64)
    px = PX.pixel_table(images_t1, valid_only=True).select(
        "row", "col", F.col("value").cast("long").alias("value"))
    for got in (TR.slope_aspect_hillshade(px, **kw),
                TR.slope_aspect_hillshade(None, images=images_t1, **kw)):
        _assert_terrain_matches_numpy(got.toPandas(), full, spec.ndv, **kw)

    rr = np.arange(spec.height)[:, None]
    cc = np.arange(spec.width)[None, :]
    dem = (rr * 7919 + cc * 104729 + spec.seed) % 1997
    dem = np.where((rr * 31 + cc * 17) % 41 == 0, int(spec.ndv), dem)
    r, c = np.nonzero(dem != spec.ndv)
    holed = spark.createDataFrame(pd.DataFrame(
        {"row": r, "col": c, "value": dem[r, c]}),
        "row long, col long, value long")
    tiles = PX.assemble_tiles(holed, "holed", (spec.x0, spec.y0),
                              (spec.cellx, spec.celly), tile=64, ndv=spec.ndv)
    for got in (TR.slope_aspect_hillshade(holed, **kw),
                TR.slope_aspect_hillshade(None, images=tiles, **kw)):
        assert _assert_terrain_matches_numpy(
            got.toPandas(), dem, spec.ndv, **kw) > 100_000


def _assert_equals_join_plan(got, px, **kw) -> int:
    """`got` equals the 8-offset neighbor-join form (terrain_sql, run in
    DuckDB over the same pixel table) cell for cell; the cells the join
    form drops (no valid neighbor) carry NULL derivatives. Returns the
    number of cells compared."""
    import duckdb

    key = ["row", "col"]
    con = duckdb.connect()
    con.register("pxdf", px.toPandas())
    a = con.sql(TR.terrain_sql("px AS (SELECT row, col, value FROM pxdf)",
                               **kw)).df()
    con.close()
    a = a.sort_values(key).reset_index(drop=True)
    b = got.toPandas().sort_values(key).reset_index(drop=True)
    joined = b.set_index(key).index.isin(a.set_index(key).index)
    assert b.loc[~joined, ["slope_deg", "aspect_deg", "hillshade"]].isna().all().all()
    pd.testing.assert_frame_equal(a, b[joined].reset_index(drop=True),
                                  check_dtype=False)
    return len(a)


def test_terrain_halo_plan_equals_join_plan(spark, images_t1):
    """The tile+halo stencil on the pixel table equals the neighbor-join
    form on the masked table (seams, edges, nodata)."""
    spec = synth.T1
    kw = dict(cellsize=(spec.cellx, spec.celly), zfactor=0.001)
    px = PX.pixel_table(images_t1, valid_only=True).select(
        "row", "col", F.col("value").cast("long").alias("value"))
    _assert_equals_join_plan(TR.slope_aspect_hillshade(px, **kw), px, **kw)


def test_terrain_tiles_plan_matches_join(spark, images_t1):
    """The images= tiles path (decode-in-place + halo strips) equals the
    neighbor-join form over the exploded pixel table cell for cell."""
    spec = synth.T1
    kw = dict(cellsize=(spec.cellx, spec.celly), zfactor=0.001)
    px = PX.pixel_table(images_t1, valid_only=True).select(
        "row", "col", F.col("value").cast("long").alias("value"))
    got = TR.slope_aspect_hillshade(None, images=images_t1, **kw)
    assert _assert_equals_join_plan(got, px, **kw) > 50000


def test_isolated_cell_emits_a_row(spark):
    """A valid cell without one valid neighbor still emits its row from
    every 3x3 stencil: NULL Horn derivatives, NULL TPI/TRI/roughness,
    d8 = 0 and focal_stats ncnt = 0."""
    from georasters_spark.operators import autocorr as AC

    rows = [(r, c, 10 * r + c) for r in range(4) for c in range(4)]
    rows.append((9, 9, 77))
    px = spark.createDataFrame(rows, "row long, col long, value long")

    def at(df):
        got = [t for t in df.collect() if (t.row, t.col) == (9, 9)]
        assert len(got) == 1 and got[0].value == 77
        return got[0]

    t = at(TR.slope_aspect_hillshade(px, cellsize=(1.0, -1.0)))
    assert t.slope_deg is None and t.aspect_deg is None and t.hillshade is None
    t = at(TR.hillshade_multidirectional(px, cellsize=(1.0, -1.0)))
    assert t.hillshade_md is None
    t = at(TR.tpi_tri_roughness(px))
    assert (t.tpi, t.tri_wilson, t.tri_riley, t.roughness) == (None,) * 4
    assert at(TR.d8_flow_direction(px)).d8 == 0
    for include_self, want in ((False, (0, 0, 0)), (True, (77, 77 * 77, 1))):
        t = at(AC.focal_stats(px, include_self=include_self))
        assert (t.nsum, t.nsum2, t.ncnt) == want


def test_tpi_tri_roughness_vs_numpy(spark):
    """Small dense DEM: every window statistic re-derived with numpy
    shifts; edge cells NULL."""
    rng = np.random.default_rng(11)
    h, w = 14, 17
    z = rng.integers(0, 500, (h, w)).astype(np.int64)
    rows = [(int(r), int(c), int(z[r, c])) for r in range(h) for c in range(w)]
    px = spark.createDataFrame(rows, "row long, col long, value long")
    got = {(t.row, t.col): t
           for t in TR.tpi_tri_roughness(px).collect()}
    assert len(got) == h * w
    for r in range(h):
        for c in range(w):
            t = got[(r, c)]
            if r in (0, h - 1) or c in (0, w - 1):
                assert t.tpi is None and t.roughness is None
                continue
            win = z[r - 1:r + 2, c - 1:c + 2]
            nb = np.delete(win.ravel(), 4).astype(np.float64)
            assert abs(t.tpi - round(z[r, c] - nb.mean(), 6)) < 1e-9
            assert abs(t.tri_wilson
                       - round(np.abs(z[r, c] - nb).mean(), 6)) < 1e-9
            assert abs(t.tri_riley
                       - round(float(np.sqrt(((z[r, c] - nb) ** 2).sum())), 6)) < 1e-9
            assert t.roughness == int(win.max() - win.min())


def test_color_relief_interpolation_and_clamps(spark):
    ramp = [(0, 10, 20, 30), (100, 110, 220, 130), (200, 0, 0, 255)]
    vals = [-50, 0, 25, 100, 150, 200, 900]
    px = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "i long, value long")
    got = {t.value: (t.r, t.g, t.b)
           for t in TR.color_relief(px, ramp).collect()}
    assert len(got) == len(vals)
    assert got[-50] == (10, 20, 30)          # below-ramp clamp
    assert got[0] == (10, 20, 30)            # exact first entry
    assert got[25] == (35, 70, 55)           # t=0.25 lerp
    assert got[100] == (110, 220, 130)       # exact middle entry
    assert got[150] == (55, 110, 193)        # floor(+0.5) rounding: 192.5 -> 193
    assert got[200] == (0, 0, 255)           # last entry (clamp segment)
    assert got[900] == (0, 0, 255)           # above-ramp clamp
    import pytest as _pytest
    with _pytest.raises(ValueError, match=">= 2"):
        TR.color_relief(px, [(0, 1, 2, 3)])
    with _pytest.raises(ValueError, match="duplicate"):
        TR.color_relief(px, [(0, 1, 2, 3), (0, 4, 5, 6)])


def test_hillshade_multidirectional_vs_numpy(spark):
    """Four-azimuth Mark 1992 combination vs direct numpy; flat cells
    get the 255·cos(zen) constant; md stays in [0, 255]."""
    import math

    rng = np.random.default_rng(23)
    h, w = 12, 15
    z = rng.integers(0, 800, (h, w)).astype(np.int64)
    z[4:7, 4:7] = 300  # a flat patch
    rows = [(int(r), int(c), int(z[r, c])) for r in range(h) for c in range(w)]
    px = spark.createDataFrame(rows, "row long, col long, value long")
    got = {(t.row, t.col): t.hillshade_md
           for t in TR.hillshade_multidirectional(
               px, cellsize=(1.0, -1.0), zfactor=1.0).collect()}
    zen = math.radians(45.0)
    for r in range(1, h - 1):
        for c in range(1, w - 1):
            win = z[r - 1:r + 2, c - 1:c + 2].astype(np.float64)
            sx = (win[:, 2] * [1, 2, 1]).sum() - (win[:, 0] * [1, 2, 1]).sum()
            sy = (win[2, :] * [1, 2, 1]).sum() - (win[0, :] * [1, 2, 1]).sum()
            dzdx, dzdy = sx / 8.0, sy / 8.0
            srad = math.atan(math.hypot(dzdx, dzdy))
            if sx == 0 and sy == 0:
                exp = 255.0 * math.cos(zen)
            else:
                asp = math.radians((90.0 - math.degrees(
                    math.atan2(dzdy, -dzdx))) % 360.0)
                num = den = 0.0
                for azd in (225.0, 270.0, 315.0, 360.0):
                    az = math.radians(azd)
                    hs = 255.0 * max(0.0, math.cos(zen) * math.cos(srad)
                                     + math.sin(zen) * math.sin(srad)
                                     * math.cos(az - asp))
                    wgt = math.sin(asp - az) ** 2
                    num += wgt * hs
                    den += wgt
                exp = num / den
            assert abs(got[(r, c)] - round(exp, 6)) < 1e-6
            assert -1e-9 <= got[(r, c)] <= 255.0 + 1e-9
    assert got[(0, 0)] is None  # edge rule
    assert abs(got[(5, 5)] - round(255.0 * math.cos(zen), 6)) < 1e-9  # flat
