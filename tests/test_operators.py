"""Operator-level semantics: decode/explode vs stitched-array oracle,
zonal stats (center + all_touched + repartitioned + concave/donut
zones, against the numpy zonal oracle),
union golden test (reference tests/newtest.py:17-51), roundtrips."""

import numpy as np
import numpy_oracles as NO
import pandas as pd
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from georasters_spark.functions import geometry as geom
from georasters_spark.operators import pixels as PX
from georasters_spark.operators import spatial_join as SJ
from georasters_spark.sources import synth


def test_pixel_table_matches_stitched(spark, images_t1):
    spec = synth.T1
    px = PX.pixel_table(images_t1, valid_only=True).select("row", "col", "value")
    pdf = px.toPandas().sort_values(["row", "col"]).reset_index(drop=True)
    full = synth.stitched_array(spec)
    rr, cc = np.nonzero(full != spec.ndv)
    assert len(pdf) == len(rr)
    assert np.array_equal(pdf["row"].to_numpy(), rr)
    assert np.array_equal(pdf["col"].to_numpy(), cc)
    assert np.array_equal(pdf["value"].to_numpy(np.int64), full[rr, cc].astype(np.int64))


def test_pixel_count_golden(images_t1):
    """~25% nodata by design (pre1500-like anchor, BASELINE.md)."""
    spec = synth.T1
    full = synth.stitched_array(spec)
    valid = int((full != spec.ndv).sum())
    frac = valid / (spec.width * spec.height)
    assert 0.70 < frac < 0.80
    # golden values (recomputed from the formulas — stable forever)
    assert valid == 109725
    assert int(full[full != spec.ndv].astype(np.int64).sum()) == 109513584


def test_zonal_all_touched_superset(spark, images_t1):
    spec = synth.T1
    kw = dict(origin=(spec.x0, spec.y0), cellsize=(spec.cellx, spec.celly))
    center = SJ.zonal_stats(images_t1, synth.ZONES_T1, mode="center", **kw).toPandas()
    touched = SJ.zonal_stats(images_t1, synth.ZONES_T1, mode="all_touched", **kw).toPandas()
    m = center.merge(touched, on="zone_id", suffixes=("_c", "_t"))
    assert (m["zcount_t"] >= m["zcount_c"]).all()
    assert (m["zcount_t"] > m["zcount_c"]).any()


def test_zonal_concave_and_donut_vs_numpy(spark, images_t1):
    """Non-convex zones (no SQL oracle) against the stitched-array oracle."""
    spec = synth.T1
    zones = [z for z in synth.ZONES_EXTRA if z.name in ("concave_l", "donut")]
    got = (
        SJ.zonal_stats(
            images_t1, zones,
            origin=(spec.x0, spec.y0), cellsize=(spec.cellx, spec.celly),
        )
        .toPandas()
        .set_index("zone_id")
        .sort_index()
    )
    full = synth.stitched_array(spec)
    rows, cols = np.meshgrid(np.arange(spec.height), np.arange(spec.width), indexing="ij")
    xc = spec.x0 + (cols + 0.5) * spec.cellx
    yc = spec.y0 + (rows + 0.5) * spec.celly
    for z in zones:
        inside = geom.points_in_rings(xc.ravel(), yc.ravel(), z.rings).reshape(full.shape)
        vals = full[inside & (full != spec.ndv)].astype(np.int64)
        assert got.loc[z.zone_id, "zcount"] == len(vals)
        assert got.loc[z.zone_id, "zsum"] == vals.sum()
        assert got.loc[z.zone_id, "zmin"] == vals.min()
        assert got.loc[z.zone_id, "zmax"] == vals.max()


def test_zonal_fused_equals_unfused(spark, images_t1):
    """The one zonal plan (fused decode + PIP + per-task partials)
    equals the independent numpy oracle, for center and all_touched
    modes and for convex, concave and donut zones."""
    spec = synth.T1
    kw = dict(origin=(spec.x0, spec.y0), cellsize=(spec.cellx, spec.celly))
    zones = synth.ZONES_T1 + [z for z in synth.ZONES_EXTRA if z.name in ("concave_l", "donut")]
    assert SJ.zonal_stats_fused is SJ.zonal_stats
    for mode in ("center", "all_touched"):
        got = SJ.zonal_stats(images_t1, zones, mode=mode, **kw).toPandas()
        NO.assert_zonal_matches(got, NO.zonal_numpy_oracle(spec, zones, mode))


def test_zonal_salted_equals_plain(spark, images_t1):
    """Per-task partials replace key salting: spreading the tiles over
    16 partitions (16 partial rows per zone) leaves the result exactly
    the single-layout one, and both match the numpy oracle."""
    spec = synth.T1
    kw = dict(origin=(spec.x0, spec.y0), cellsize=(spec.cellx, spec.celly))
    plain = SJ.zonal_stats(images_t1, synth.ZONES_T1, **kw).toPandas().sort_values("zone_id").reset_index(drop=True)
    spread = SJ.zonal_stats(images_t1.repartition(16), synth.ZONES_T1, **kw).toPandas().sort_values("zone_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(plain, spread)
    NO.assert_zonal_matches(plain, NO.zonal_numpy_oracle(spec, synth.ZONES_T1))


def test_skew_zone_salted(spark, images_t1):
    """Continent-sized zone (half the world) spread over 32 partitions'
    partials, against the numpy oracle."""
    spec = synth.T1
    z = [zz for zz in synth.ZONES_EXTRA if zz.name == "skew_half_world"][0]
    kw = dict(origin=(spec.x0, spec.y0), cellsize=(spec.cellx, spec.celly))
    got = SJ.zonal_stats(images_t1.repartition(32), [z], **kw).toPandas()
    NO.assert_zonal_matches(got, NO.zonal_numpy_oracle(spec, [z]))
    assert got.loc[0, "zcount"] > 40000  # really is skewed-large


def test_union_golden_newtest(spark):
    """Reference tests/newtest.py:17-33: A=[[1]] @ (0,1,0,0,0,-1),
    B=[[3]] @ (2,1,0,-1,0,-1), ndv=-1 ⇒ 2x3 grid
    [[1,-1,-1],[-1,-1,3]] — exact tile assignment + later-wins."""
    # global lattice: xmin=0, ymax=0, cell 1x-1 → A at (row 0, col 0),
    # B at (row 1, col 2)
    a = spark.createDataFrame([(0, 0, 1)], "row long, col long, value long")
    b = spark.createDataFrame([(1, 2, 3)], "row long, col long, value long")
    tagged = a.withColumn("ordinal", F.lit(0)).unionByName(b.withColumn("ordinal", F.lit(1)))
    out = tagged.groupBy("row", "col").agg(F.max_by("value", "ordinal").alias("value")).toPandas()
    grid = np.full((2, 3), -1, dtype=np.int64)
    for r in out.itertuples():
        grid[r.row, r.col] = r.value
    assert np.array_equal(grid, np.array([[1, -1, -1], [-1, -1, 3]]))


def test_union_golden_offgrid_newtest(spark):
    """Reference tests/newtest.py:35-51: B at xmin=2.5 (half a cell off
    the lattice) snaps to col 2 via HALF_EVEN rounding (np.round(2.5)=2)
    and the union equals the on-grid case [[1,-1,-1],[-1,-1,3]]."""
    from georasters_spark.functions import grid as G

    # snap B's origin onto A's lattice with the map_pixel rounding rule
    b_origin = spark.createDataFrame([(2.5, -1.0)], "x double, y double")
    snapped = b_origin.select(
        G.col_of_x(F.col("x"), 0.0, 1.0).alias("col"),
        G.row_of_y(F.col("y"), 0.0, -1.0).alias("row"),
    ).collect()[0]
    assert (snapped["row"], snapped["col"]) == (1, 2)

    a = spark.createDataFrame([(0, 0, 1)], "row long, col long, value long")
    b = spark.createDataFrame(
        [(int(snapped["row"]), int(snapped["col"]), 3)], "row long, col long, value long"
    )
    from georasters_spark.operators.algebra import union_pixels

    out = union_pixels([a, b]).toPandas()
    grid = np.full((2, 3), -1, dtype=np.int64)
    for r in out.itertuples():
        grid[r.row, r.col] = r.value
    assert np.array_equal(grid, np.array([[1, -1, -1], [-1, -1, 3]]))


def test_union_split_roundtrip(spark, images_t1):
    """Reference tests/test_georasters.py:38-75: split at h/2 → union
    equals the original on all valid cells."""
    spec = synth.T1
    px = PX.pixel_table(images_t1, valid_only=True).select("row", "col", "value")
    top = px.filter(F.col("row") < spec.height // 2)
    bot = px.filter(F.col("row") >= spec.height // 2)
    tagged = top.withColumn("ordinal", F.lit(0)).unionByName(bot.withColumn("ordinal", F.lit(1)))
    merged = tagged.groupBy("row", "col").agg(F.max_by("value", "ordinal").alias("value"))
    diff = (
        merged.join(px.withColumnRenamed("value", "orig"), ["row", "col"], "full")
        .filter(
            F.col("value").isNull()
            | F.col("orig").isNull()
            | (F.col("value") != F.col("orig"))
        )
        .count()
    )
    assert diff == 0


def test_assemble_roundtrip(spark, images_t1):
    """pixel_table → assemble_tiles → pixel_table is identity on valid
    cells (from_pandas inverse, georasters.py:1569-1599)."""
    spec = synth.T1
    px = PX.pixel_table(images_t1, valid_only=True).select("row", "col", "value")
    rebuilt = PX.assemble_tiles(
        px, grid_id="rt", origin=(spec.x0, spec.y0),
        cellsize=(spec.cellx, spec.celly), tile=spec.tile, ndv=spec.ndv,
    )
    px2 = PX.pixel_table(rebuilt, valid_only=True).select("row", "col", "value")
    a = px.toPandas().sort_values(["row", "col"]).reset_index(drop=True)
    b = px2.toPandas().sort_values(["row", "col"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_clip_minitiles_match_zonal(spark, images_t1):
    """clip() mini-tile pixel sums per zone == zonal all_touched sums
    (the clip/stats shared-kernel identity, georasters.py:870-947)."""
    spec = synth.T1
    kw = dict(origin=(spec.x0, spec.y0), cellsize=(spec.cellx, spec.celly))
    zones = synth.ZONES_T1[:2]
    clipped = SJ.clip(images_t1, zones, tile=spec.tile, ndv=spec.ndv, **kw)
    zs = (
        SJ.zonal_stats(images_t1, zones, mode="all_touched", **kw)
        .toPandas()
        .set_index("zone_id")
    )
    for z in zones:
        sub = clipped.filter(F.col("zone_id") == z.zone_id)
        px2 = PX.pixel_table(sub, valid_only=True)
        agg = px2.agg(
            F.count("value").alias("c"), F.sum("value").cast("long").alias("s")
        ).collect()[0]
        assert agg["c"] == zs.loc[z.zone_id, "zcount"]
        assert agg["s"] == zs.loc[z.zone_id, "zsum"]


def test_gini_degenerate_and_uniform(spark):
    """gini closed forms: count<=1 ⇒ 1 (guard, georasters.py:960);
    uniform 1..n ⇒ (n-1)/(3n) under the reference formula."""
    from georasters_spark.operators.algebra import gini_agg

    one = spark.createDataFrame([(5,)], "value long")
    r = gini_agg(one, round_dp=12).collect()[0]
    assert r["n"] == 1 and abs(r["gini"] - 1.0) < 1e-12

    n = 100
    uni = spark.range(1, n + 1).select(F.col("id").alias("value"))
    g = gini_agg(uni, round_dp=12).collect()[0]["gini"]
    assert abs(g - (n - 1) / (3 * n)) < 1e-12


def test_infer_grid_quirks(spark):
    """from_pandas inference: cell size = MAX gap (georasters.py:
    1582-1585) — a deliberately irregular point set proves the quirk."""
    rows = [(0.0, 10.0), (1.0, 10.0), (3.5, 10.0), (0.0, 8.0), (0.0, 5.0)]
    df = spark.createDataFrame(rows, "x double, y double")
    g = PX.infer_grid_from_points(df)
    assert g["cellx"] == 2.5  # max gap 1.0→3.5, not min gap 1.0
    assert g["celly"] == -3.0  # max gap 8→5
    assert g["xmin"] == 0.0 and g["ymax"] == 10.0
    # reindexed 0..max: cols {0, round(3.5/2.5)=1}+1 = 2;
    # rows {0, round(2/3)=1, round(5/3)=2}+1 = 3
    assert g["ncols"] == 2 and g["nrows"] == 3


def test_psnr_gate_query(spark):
    from georasters_spark import queries as Q

    out = Q.q_psnr_gate(spark, "/root/testdata/sf0.01").toPandas()
    assert len(out) == 45
    assert out.passes_gate.all()
    assert (out.psnr_db >= 40).all()


def test_lookup_fused_equals_generic(spark, images_t1):
    """Broadcast-gather lookup == the numpy map_pixel oracle (HALF_EVEN
    nearest cell of the stitched grid, NULL when masked or off-grid)."""
    spec = synth.T1
    pts = synth.points_df(spark, 200)
    kw = dict(origin=(spec.x0, spec.y0), cellsize=(spec.cellx, spec.celly))
    a = NO.lookup_numpy_oracle(spec, pts.toPandas())
    b = (
        PX.lookup_points_fused(images_t1, pts, **kw)
        .select("point_id", "prow", "pcol", "value")
        .toPandas()
        .sort_values("point_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)
    assert b.value.notna().sum() > 100 and b.value.isna().sum() > 10


def test_lookup_fused_refuses_wrong_tile(spark, images_t1):
    """tile= must be the table's tile edge: on the 64-px T1 tiles,
    tile=32 raises instead of gathering the wrong cells, and tile=64
    equals the numpy map_pixel oracle."""
    import pytest

    spec = synth.T1
    pts = synth.points_df(spark, 50)
    kw = dict(origin=(spec.x0, spec.y0), cellsize=(spec.cellx, spec.celly))
    with pytest.raises(Exception, match="tile=32 but tile"):
        PX.lookup_points_fused(images_t1, pts, tile=32, **kw).collect()
    cols = ["point_id", "prow", "pcol", "value"]
    a = NO.lookup_numpy_oracle(spec, pts.toPandas())
    b = (PX.lookup_points_fused(images_t1, pts, tile=64, **kw).select(*cols)
         .toPandas().sort_values("point_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b)
    assert b.value.notna().sum() > 0


def test_extract_equals_map_pixel(spark, images_t1):
    """Reference tests/test_georasters.py:29-36: radius-0 extract at a
    point equals map_pixel there."""
    from georasters_spark.functions import grid as G

    spec = synth.T1
    xq, yq = 12.37, -7.93
    px = PX.pixel_table(images_t1, valid_only=True)
    r0 = G.row_of_y(F.lit(yq), spec.y0, spec.celly)
    c0 = G.col_of_x(F.lit(xq), spec.x0, spec.cellx)
    ext = px.filter((F.col("row") == r0) & (F.col("col") == c0)).select("value").toPandas()
    full = synth.stitched_array(spec)
    rr = int(np.round((yq - spec.y0) / spec.celly))
    cc = int(np.round((xq - spec.x0) / spec.cellx))
    expected = full[rr, cc]
    if expected == spec.ndv:
        assert len(ext) == 0
    else:
        assert len(ext) == 1 and int(ext["value"].iloc[0]) == int(expected)


def test_no_ndv_default_fill_rule(spark, images_t1):
    """Rows with ndv=NaN (file without nodata) use the reference rule:
    default fill value, NOTHING masked (georasters.py:1553-1562)."""
    one = images_t1.limit(1).withColumn("ndv", F.lit(float("nan")))
    px = PX.pixel_table(one, valid_only=True)
    assert px.count() == 64 * 64  # every cell valid, incl. former ndv cells
    assert PX.default_ndv("int16") == 999999.0
    assert PX.default_ndv("float32") == 1e20


def test_gini_fractional_values_not_truncated(spark):
    """gini on non-integer values must use the REAL values (code-review
    regression: a silent long-cast would compute gini of floor(v))."""
    from georasters_spark.operators.algebra import gini_agg

    vals = [0.5, 1.5, 2.5, 3.5]
    df = spark.createDataFrame([(v,) for v in vals], "value double")
    got = gini_agg(df, round_dp=9).collect()[0]
    n = len(vals)
    y = np.cumsum(sorted(vals))
    exp = 1.0 + 1.0 / n - 2.0 * (y.sum() / (y[-1] * n))
    assert got["n"] == n
    assert abs(got["gini"] - exp) < 1e-9
    # truncated values would give a very different coefficient
    yt = np.cumsum(sorted([0, 1, 2, 3]))
    bad = 1.0 + 1.0 / n - 2.0 * (yt.sum() / (yt[-1] * n))
    assert abs(got["gini"] - bad) > 1e-3


def test_zonal_stats_custom_add_stats_and_name(spark, images_t1):
    """stats(add_stats=..., name=...) surface (georasters.py:908-947):
    custom per-zone callables + name-prefixed output columns, checked
    against direct numpy on the stitched grid."""
    from georasters_spark.operators.spatial_join import zonal_stats_custom
    from georasters_spark.sources import synth

    spec = synth.T1
    out = zonal_stats_custom(
        images_t1, synth.ZONES_T1,
        origin=(spec.x0, spec.y0), cellsize=(spec.cellx, spec.celly),
        add_stats={"p90": lambda v: float(np.percentile(v, 90)),
                   "rng": lambda v: float(v.max() - v.min())},
        name="pre1500",
    ).toPandas().set_index("zone_id")
    assert "pre1500_p90" in out.columns and "pre1500_zmean" in out.columns

    full = synth.stitched_array(spec).astype(np.float64)
    valid = full != spec.ndv
    rr, cc = np.meshgrid(np.arange(spec.height), np.arange(spec.width), indexing="ij")
    xc = spec.x0 + (cc + 0.5) * spec.cellx
    yc = spec.y0 + (rr + 0.5) * spec.celly
    from georasters_spark.functions import geometry as geom

    z = synth.ZONES_T1[0]
    rings = [np.asarray(r, dtype=np.float64) for r in z.rings]
    hit = valid & geom.points_in_rings(xc.ravel(), yc.ravel(), rings).reshape(valid.shape)
    v = full[hit]
    assert out.loc[z.zone_id, "pre1500_zcount"] == v.size
    assert abs(out.loc[z.zone_id, "pre1500_p90"] - np.percentile(v, 90)) < 1e-9
    assert out.loc[z.zone_id, "pre1500_rng"] == v.max() - v.min()


def test_clip_keep_merges_zone_attrs(spark, images_t1):
    """clip(keep=True) merges polygon attributes onto the output
    (georasters.py:894-898)."""
    from georasters_spark.sources import synth

    spec = synth.T1
    out = SJ.clip(
        images_t1, synth.ZONES_T1,
        origin=(spec.x0, spec.y0), cellsize=(spec.cellx, spec.celly),
        tile=spec.tile, ndv=spec.ndv, keep=True,
    ).select("zone_id", "zone_name").distinct().toPandas()
    exp = {z.zone_id: z.name for z in synth.ZONES_T1}
    got = dict(zip(out.zone_id, out.zone_name))
    assert all(got[k] == v for k, v in exp.items() if k in got)
    assert len(got) >= 2


def test_build_overviews_pyramid(spark, images_t1):
    """Overview levels decode back to the valid-cell block mean of the
    base grid (HALF_EVEN to the tile dtype), georef scaled by L."""
    from georasters_spark.operators.pixels import build_overviews, pixel_table
    from georasters_spark.sources import synth

    spec = synth.T1
    ovr = build_overviews(
        images_t1, origin=(spec.x0, spec.y0),
        cellsize=(spec.cellx, spec.celly), levels=(4,), ndv=spec.ndv,
    )[4]
    got = pixel_table(ovr, valid_only=True).toPandas()
    full = synth.stitched_array(spec).astype(np.float64)
    valid = full != spec.ndv
    import numpy as np_
    h4 = (spec.height + 3) // 4
    w4 = (spec.width + 3) // 4
    exp = {}
    for r0 in range(h4):
        for c0 in range(w4):
            blk = full[r0 * 4:(r0 + 1) * 4, c0 * 4:(c0 + 1) * 4]
            vb = valid[r0 * 4:(r0 + 1) * 4, c0 * 4:(c0 + 1) * 4]
            if vb.any():
                # bround == banker's rounding (np.round)
                exp[(r0, c0)] = int(np_.round(blk[vb].mean()))
    assert len(got) == len(exp)
    for t in got.itertuples(index=False):
        assert exp[(t.row, t.col)] == t.value, (t.row, t.col)
    # georef scaled
    rec = ovr.limit(1).collect()[0]
    assert abs(rec["cellx"] - spec.cellx * 4) < 1e-12


def test_rasterize_semantics(spark):
    """rasterize: center PIP burn, MAX-zone_id overlap rule, default
    burn = zone_id, all_touched superset."""
    z1 = synth.Zone(1, "a", (((0.0, 0.0), (5.0, 0.0), (5.0, 5.0), (0.0, 5.0)),))
    z2 = synth.Zone(2, "b", (((3.0, 0.0), (8.0, 0.0), (8.0, 5.0), (3.0, 5.0)),))
    kw = dict(origin=(0.0, 6.0), cellsize=(1.0, -1.0), shape=(6, 9))
    out = SJ.rasterize(spark, [z1, z2], burn={1: 7.0, 2: 9.0}, **kw).toPandas()
    got = {(t.row, t.col): (t.zone_id, t.value)
           for t in out.itertuples(index=False)}
    # center (col 0.5, row 5.5 -> y 0.5) inside z1 only
    assert got[(1, 0)] == (1, 7.0)
    # overlap band cols 3..4: later feature (max zone_id) wins
    assert got[(1, 3)] == (2, 9.0)
    # z2-only band
    assert got[(1, 6)] == (2, 9.0)
    # outside every zone: absent (col 8 center x=8.5 > 8; row 0 center
    # y=5.5 > 5)
    assert (1, 8) not in got and (0, 0) not in got
    # default burn = zone_id as double
    d = SJ.rasterize(spark, [z1], **kw).toPandas()
    assert set(d["value"]) == {1.0}
    # all_touched is a superset of center
    at = SJ.rasterize(spark, [z1, z2], all_touched=True, **kw).toPandas()
    assert set(map(tuple, at[["row", "col"]].to_numpy())) >= set(got)
    # a burn map that misses a zone id must refuse, not drop cells
    import pytest as _pytest
    with _pytest.raises(ValueError, match="missing zone ids \\[2\\]"):
        SJ.rasterize(spark, [z1, z2], burn={1: 7.0}, **kw)


def test_histogram_equalize_numpy_mirror(spark):
    """algebra.histogram_equalize vs the classic numpy CDF LUT."""
    import numpy as np

    from georasters_spark.operators import algebra as ALG

    rng = np.random.default_rng(3)
    vals = rng.integers(0, 40, size=500)
    px = spark.createDataFrame(
        [(i, 0, int(v)) for i, v in enumerate(vals)],
        "row long, col long, value long")
    got = {r["row"]: r["value"]
           for r in ALG.histogram_equalize(px, levels=256).collect()}
    uniq, cnt = np.unique(vals, return_counts=True)
    cdf = np.cumsum(cnt)
    lut = {int(u): int(np.floor((c - cdf[0]) / (cdf[-1] - cdf[0]) * 255.0 + 0.5))
           for u, c in zip(uniq, cdf)}
    assert got == {i: lut[int(v)] for i, v in enumerate(vals)}


def test_histogram_equalize_constant_image(spark):
    from georasters_spark.operators import algebra as ALG

    px = spark.createDataFrame([(r, 0, 7) for r in range(10)],
                               "row long, col long, value long")
    rows = ALG.histogram_equalize(px).collect()
    assert len(rows) == 10 and all(r["value"] == 0 for r in rows)


def test_linear_rescale_numpy_mirror(spark):
    """algebra.linear_rescale vs the gdal_translate -scale affine map."""
    import numpy as np

    from georasters_spark.operators import algebra as ALG

    rng = np.random.default_rng(9)
    vals = rng.integers(5, 900, size=300)
    px = spark.createDataFrame(
        [(i, 0, int(v)) for i, v in enumerate(vals)],
        "row long, col long, value long")
    got = {r["row"]: r["value"] for r in ALG.linear_rescale(px).collect()}
    smin, smax = vals.min(), vals.max()
    exp = np.floor((vals - smin) * 255.0 / (smax - smin) + 0.5).astype(int)
    assert got == {i: int(exp[i]) for i in range(len(vals))}
    # explicit src bounds + constant image
    got2 = {r["row"]: r["value"]
            for r in ALG.linear_rescale(px, dst=(10, 20), src=(0, 1000)).collect()}
    exp2 = np.floor(vals * 10.0 / 1000 + 10 + 0.5).astype(int)
    assert got2 == {i: int(exp2[i]) for i in range(len(vals))}
    const = spark.createDataFrame([(0, 0, 7), (1, 0, 7)],
                                  "row long, col long, value long")
    assert all(r["value"] == 0 for r in ALG.linear_rescale(const).collect())
