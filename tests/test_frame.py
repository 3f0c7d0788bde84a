"""GeoRasterFrame facade: reference-shaped API delegating to gated
operators.  Each test pins a facade method against either the direct
operator call or a numpy mirror on the t1 grid — the facade must add
NOTHING of its own."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from georasters_spark.frame import GeoRasterFrame, _round_half_even
from georasters_spark.sources import synth


@pytest.fixture(scope="module")
def frame(spark, images_t1):
    spec = synth.T1
    return GeoRasterFrame.from_images(
        images_t1, origin=(spec.x0, spec.y0),
        cellsize=(spec.cellx, spec.celly),
        shape=(spec.height, spec.width), ndv=spec.ndv, projection="wgs84")


@pytest.fixture(scope="module")
def dense(spark):
    """Small dense grid with known values for scalar-math checks."""
    spec = synth.T1
    h, w = 30, 40
    rng = np.random.RandomState(11)
    a = rng.randint(1, 50, size=(h, w)).astype(np.float64)
    import pandas as pd
    px = spark.createDataFrame(pd.DataFrame({
        "row": np.repeat(np.arange(h), w),
        "col": np.tile(np.arange(w), h),
        "value": a.ravel()}))
    gr = GeoRasterFrame(px, origin=(spec.x0, spec.y0),
                        cellsize=(spec.cellx, spec.celly), shape=(h, w),
                        projection="wgs84")
    return gr, a


def test_global_aggregations_match_numpy(dense):
    gr, a = dense
    assert gr.count() == a.size
    assert gr.sum() == a.sum()
    assert gr.max() == a.max() and gr.min() == a.min()
    assert abs(gr.mean() - a.mean()) < 1e-9
    assert abs(gr.std() - a.std()) < 1e-9      # ddof=0, reference rule
    assert abs(gr.var() - a.var()) < 1e-9
    assert gr.median() == np.median(a)
    # first-occurrence flat index, reference argmax/argmin semantics
    assert gr.argmax() == int(a.argmax())
    assert gr.argmin() == int(a.argmin())


def test_prod_sign_zero_and_magnitude(spark):
    import pandas as pd
    spec = synth.T1

    def mk(vals):
        px = spark.createDataFrame(pd.DataFrame({
            "row": [0] * len(vals), "col": list(range(len(vals))),
            "value": [float(v) for v in vals]}))
        return GeoRasterFrame(px, (spec.x0, spec.y0),
                              (spec.cellx, spec.celly), (1, len(vals)))

    assert mk([2, 3, 4]).prod() == pytest.approx(24.0)
    assert mk([2, -3, 4]).prod() == pytest.approx(-24.0)
    assert mk([2, 0, 4]).prod() == 0.0


def test_binary_ops_and_floordiv_quirk(dense):
    gr, a = dense
    got = dict(((r["row"], r["col"]), r["value"])
               for r in (gr + gr).px.collect())
    assert got[(0, 0)] == 2 * a[0, 0]
    # scalar ops keep the lattice
    assert (gr * 2).sum() == 2 * a.sum()
    # floordiv TRUNCATES toward zero (georasters.py:494-513 quirk)
    neg = -gr
    q = dict(((r["row"], r["col"]), r["value"])
             for r in (neg // 7).px.collect())
    exp = np.trunc(-a / 7.0)
    assert q[(3, 5)] == exp[3, 5]
    # grid mismatch raises
    spec = synth.T1
    other = GeoRasterFrame(gr.px, (spec.x0 + 1, spec.y0),
                           (spec.cellx, spec.celly), gr.shape)
    with pytest.raises(Exception):
        (gr + other).px.collect()


def test_map_pixel_and_extract(dense):
    gr, a = dense
    spec = synth.T1
    # the ULC-corner convention of grid.col_of_x/row_of_y (HALF_EVEN
    # of the corner ratio — the reference's np.round((x-xmin)/cellx))
    x = spec.x0 + 3 * spec.cellx
    y = spec.y0 + 2 * spec.celly
    assert gr.map_pixel_location(x, y) == (2, 3)
    assert gr.map_pixel(x, y) == a[2, 3]
    win = gr.extract(x, y, radius=1)
    got = win.px.collect()
    assert len(got) == 9
    assert {(r["row"], r["col"]) for r in got} == {
        (rr, cc) for rr in (1, 2, 3) for cc in (2, 3, 4)}


def test_round_half_even_matches_numpy():
    for x in (0.5, 1.5, 2.5, -0.5, -1.5, 2.4999, 2.5001, 3.0):
        assert _round_half_even(x) == int(np.round(x))


def test_aggregate_any_masked_rule(spark):
    """aggregate() masks any block with a missing cell (SURVEY §1.4.4);
    block_reduce('mean') averages the present cells."""
    import pandas as pd
    spec = synth.T1
    rows = [(r, c, float(r * 4 + c)) for r in range(4) for c in range(4)]
    rows.remove((3, 3, 15.0))  # hole in block (1,1)
    px = spark.createDataFrame(
        pd.DataFrame(rows, columns=["row", "col", "value"]))
    gr = GeoRasterFrame(px, (spec.x0, spec.y0),
                        (spec.cellx, spec.celly), (4, 4))
    got = {(r["row"], r["col"]): r["value"]
           for r in gr.aggregate(2).px.collect()}
    assert (1, 1) not in got          # ANY-masked
    assert got[(0, 0)] == 0 + 1 + 4 + 5
    br = {(r["row"], r["col"]): r["value"]
          for r in gr.block_reduce(2, how="mean").px.collect()}
    assert br[(1, 1)] == pytest.approx((10 + 11 + 14) / 3)
    assert gr.aggregate(2).cellsize == (spec.cellx * 2, spec.celly * 2)


def test_facade_delegates_match_operators(frame, images_t1):
    """clip/stats/gini/map_vector through the facade == direct operator
    calls (same plans, same rows)."""
    from georasters_spark.operators import algebra as AL
    from georasters_spark.operators import spatial_join as SJ

    spec = synth.T1
    kw = dict(origin=(spec.x0, spec.y0), cellsize=(spec.cellx, spec.celly))
    a = frame.stats(synth.ZONES_T1).collect()
    b = SJ.zonal_stats_extended(images_t1, synth.ZONES_T1, **kw).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert frame.gini() == float(
        AL.gini_agg(frame.px.select("value")).collect()[0]["gini"])


def test_facade_resize_and_union(frame):
    spec = synth.T1
    small = frame.resize((27, 54), order=0)
    assert small.shape == (27, 54)
    assert small.cellsize == (spec.cellx * spec.width / 54,
                              spec.celly * spec.height / 27)
    assert small.count() > 0
    u = frame.union(frame)
    assert u.count() == frame.count()


def test_facade_autocorr_and_weights(frame):
    from georasters_spark.operators import autocorr as AC

    # transform='b': binary weights (bin_threshold rides that row)
    a = frame.pysal_Moran(transform="b", bin_threshold=1000).collect()
    b = AC.global_autocorr(frame.px, bin_threshold=1000).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # DEFAULT transform='r' is the reference/esda row-standardized path
    r = frame.pysal_Moran().collect()
    rr = AC.global_autocorr_rowstd(frame.px).collect()
    assert sorted(map(tuple, r)) == sorted(map(tuple, rr))
    g = frame.pysal_Geary().collect()
    assert sorted(map(tuple, g)) == sorted(map(tuple, rr))
    w = frame.raster_weights()
    assert w.count() == AC.neighbor_pairs(frame.px).count()


def test_facade_g_local_star_dispatch(frame):
    from georasters_spark.operators import autocorr as AC

    star = frame.pysal_G_Local(star=True).collect()
    gs = AC.gstar_local(frame.px).collect()
    assert sorted(map(tuple, star)) == sorted(map(tuple, gs))
    plain = frame.pysal_G_Local().collect()  # default star=False = G_i
    gp = AC.g_local(frame.px).collect()
    assert sorted(map(tuple, plain)) == sorted(map(tuple, gp))
    # star must actually change the statistic (self in/out of weights)
    assert sorted(map(tuple, plain)) != sorted(map(tuple, star))


def test_facade_float_values_survive_images(dense):
    """A derived frame with fractional values must round-trip its tiles
    losslessly (rawf64) — the int16 default would truncate 2.5 -> 2."""
    from georasters_spark.operators import pixels as PX

    gr, a = dense
    gr2 = gr / 2
    back = PX.pixel_table(gr2.images(), valid_only=True)
    got = {(r["row"], r["col"]): r["value"] for r in back.collect()}
    exp = a / 2.0
    assert len(got) == a.size
    for (r, c), v in got.items():
        assert v == exp[r, c]  # exact, not approx


def test_stats_refuse_fractional_values(spark, dense, images_t1):
    """Fractional cells RAISE in the exact int64 moment and count
    kernels instead of truncating (0.5 would count as 0); clip still
    takes them; an integral-valued rawf64 raster gives the same frames
    as its int16 twin."""
    from georasters_spark.operators import pixels as PX
    from georasters_spark.operators import spatial_join as SJ

    gr, a = dense
    half = gr / 2
    zone = synth.make_zone(9, "dense_box", [(-179.9, 70.3), (-160.1, 70.3),
                                            (-160.1, 89.9), (-179.9, 89.9)])
    kw = dict(origin=half.origin, cellsize=half.cellsize)
    for run in (lambda: half.stats([zone]),
                lambda: SJ.zonal_stats(half.images(), [zone], **kw),
                lambda: SJ.zonal_stats_extended(half.images(), [zone], **kw)):
        with pytest.raises(Exception, match="integer-valued cells"):
            run().collect()
    clipped = PX.pixel_table(half.clip([zone]), valid_only=True).collect()
    assert len(clipped) > 0
    assert all(r["value"] == a[r["row"], r["col"]] / 2 for r in clipped)

    spec = synth.T1
    twin = synth.build_images(spark, spec, fmt="rawf64")
    kw = dict(origin=(spec.x0, spec.y0), cellsize=(spec.cellx, spec.celly))
    zones = synth.ZONES_T1 + synth.ZONES_EXTRA
    for mode in ("center", "all_touched"):
        for op in (SJ.zonal_stats, SJ.zonal_stats_extended):
            want = op(images_t1, zones, mode=mode, **kw).toPandas()
            got = op(twin, zones, mode=mode, **kw).toPandas()
            pd.testing.assert_frame_equal(
                got.sort_values("zone_id").reset_index(drop=True),
                want.sort_values("zone_id").reset_index(drop=True))


def test_from_file_true_shape_and_argmax(spark, tmp_path):
    """from_file probes the TIFF header for the TRUE dims, so flat
    argmax/argmin indices match the reference even when dims are not
    tile multiples."""
    from georasters_spark.sources import geotiff as GT

    h, w = 10, 13
    rng = np.random.RandomState(5)
    a = rng.randint(0, 2000, size=(h, w)).astype(np.int16)
    p = tmp_path / "small.tif"
    p.write_bytes(GT.write_tiff(a, x0=3.0, y0=9.0, cellx=0.5, celly=-0.5))
    gr = GeoRasterFrame.from_file(spark, str(p), tile=8)
    assert gr.shape == (h, w)
    assert gr.argmax() == int(np.argmax(a))
    assert gr.argmin() == int(np.argmin(a))
    assert GT.tiff_dims(str(p)) == (h, w)


def test_facade_to_pandas_and_geoms(dense, tmp_path):
    gr, a = dense
    spec = synth.T1
    tp = gr.to_pandas()
    r = tp.filter((F.col("row") == 0) & (F.col("col") == 0)).collect()[0]
    assert r["x"] == spec.x0 and r["y"] == spec.y0
    # to_file: polygons written through the shapefile sink and parseable
    sub = gr.extent(spec.x0, spec.y0 + 6 * spec.celly,
                    spec.x0 + 6 * spec.cellx, spec.y0)
    n = sub.apply(column_fn=lambda v: (v > 25).cast("double")).to_file(
        str(tmp_path / "zones"))
    from georasters_spark.sources import shapefile as SHP
    recs = SHP.decode_shp((tmp_path / "zones.shp").read_bytes())
    assert len(recs) == n and n > 0
    # driver='GeoJSON': the same regions through the RFC 7946 sink
    m = sub.apply(column_fn=lambda v: (v > 25).cast("double")).to_file(
        str(tmp_path / "zones"), driver="GeoJSON")
    from georasters_spark.sources import geojson as GJ
    feats = GJ.parse_geojson((tmp_path / "zones.geojson").read_text())
    assert len(feats) == m == n
    with pytest.raises(ValueError, match="unsupported driver"):
        sub.to_file(str(tmp_path / "z2"), driver="GML")


def test_facade_apply_validation(dense):
    gr, _ = dense
    with pytest.raises(ValueError, match="exactly one"):
        gr.apply()
    out = gr.apply(column_fn=lambda v: v * 0 + 1.0)
    assert out.sum() == gr.count()


def test_facade_reproject_uses_frame_crs(frame):
    out = frame.reproject("cea", out_shape=(45, 90))
    assert out.count() == 45 * 90
    cols = set(out.columns)
    assert {"trow", "tcol", "value"} <= cols


def test_facade_gamma_join_counts(frame):
    row = frame.pysal_Gamma(bin_threshold=1000).collect()[0]
    for k in ("gamma", "bb", "ww", "bw", "moran_i", "geary_c"):
        assert k in row.asDict()
    # gamma = Σ_pairs v_i·v_j (cross-product similarity) — nonzero here
    assert row["gamma"] > 0
    # permutations= dispatches to the exact upper-tail tests; the
    # observed statistics agree with the base row
    pr = frame.pysal_Join_Counts(bin_threshold=1000, permutations=9).collect()[0]
    assert pr["gamma_obs"] == row["gamma"] and pr["bb_obs"] == row["bb"]
    assert 0.0 < pr["gamma_p_sim"] <= 1.0 and 0.0 < pr["bb_p_sim"] <= 1.0


def test_facade_equalize_and_from_points(spark, dense):
    from georasters_spark.operators import algebra as AL

    gr, _a = dense
    got = sorted(gr.equalize().px.collect())
    exp = sorted(AL.histogram_equalize(
        gr.px.select("row", "col", "value")).collect())
    assert got == exp

    pts = spark.createDataFrame(
        [(0, 1.0, 89.0, 10), (1, 1.2, 89.0, 20)],
        "pid long, x double, y double, value long")
    spec = synth.T1
    gr = GeoRasterFrame.from_points(
        pts, (spec.x0, spec.y0), (2.0, -2.0), (4, 4), radius=200.0,
        algorithm="average")
    vals = {(r["row"], r["col"]): r["value"] for r in gr.px.collect()}
    assert all(v == 15.0 for v in vals.values()) and vals
    with pytest.raises(ValueError, match="algorithm"):
        GeoRasterFrame.from_points(pts, (0, 0), (1, -1), (2, 2), 1.0,
                                   algorithm="bogus")


def test_facade_to_xyz_and_pansharpen(frame, spark):
    tiles = frame.to_xyz(base_zoom=1, min_zoom=0).collect()
    assert sorted((r["z"], r["x"], r["y"]) for r in tiles) == [
        (0, 0, 0), (1, 0, 0), (1, 0, 1), (1, 1, 0), (1, 1, 1)]

    ms = spark.createDataFrame(
        [(b, r, c, 1 + b) for b in range(3) for r in range(2) for c in range(2)],
        "band long, row long, col long, value long")
    tiny = GeoRasterFrame(
        spark.createDataFrame([(0, 0, 6.0), (1, 1, 12.0)],
                              "row long, col long, value double"),
        origin=(0.0, 0.0), cellsize=(1.0, -1.0), shape=(4, 4), ndv=-9999.0)
    rows = tiny.pansharpen(ms, (2, 2), 2, 3).collect()
    # constant MS bands 1/2/3, pseudo = 1/4·1 + 3/8·2 + 3/8·3 = 2.125
    by = {(r["row"], r["col"], r["band"]): r["value"] for r in rows}
    assert by[(0, 0, 0)] == pytest.approx(round(1 * 6.0 / 2.125, 6))
    assert by[(1, 1, 2)] == pytest.approx(round(3 * 12.0 / 2.125, 6))
