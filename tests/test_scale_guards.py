"""Scale guards: t2-tier correctness drill, plan-shape regression
(fused zonal must shuffle exactly once), union later-wins property."""

import io
from contextlib import redirect_stdout

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import numpy_oracles as NO
from georasters_spark.operators import algebra as AL
from georasters_spark.operators import pixels as PX
from georasters_spark.operators import spatial_join as SJ
from georasters_spark.sources import synth


def test_t2_tier_decode_golden_and_fused_parity(spark):
    """2160x1080 (2.3M px, 578 tiles): distributed decode equals the
    stitched-array oracle; zonal stats equal the numpy zonal oracle at
    4x smoke scale."""
    spec = synth.T2
    imgs = synth.build_images(spark, spec).cache()
    try:
        full = synth.stitched_array(spec)
        valid = full != spec.ndv
        px = PX.pixel_table(imgs, valid_only=True)
        row = px.agg(
            F.count("value").alias("c"), F.sum("value").cast("long").alias("s")
        ).collect()[0]
        assert row["c"] == int(valid.sum())
        assert row["s"] == int(full[valid].astype(np.int64).sum())
        kw = dict(origin=(spec.x0, spec.y0), cellsize=(spec.cellx, spec.celly))
        got = SJ.zonal_stats(imgs, synth.ZONES_T1, **kw).toPandas()
        NO.assert_zonal_matches(got, NO.zonal_numpy_oracle(spec, synth.ZONES_T1))
    finally:
        imgs.unpersist()


def test_fused_zonal_plan_single_exchange(spark, images_t1):
    """The fused zonal plan must contain exactly ONE shuffle (the final
    zone-keyed aggregate) — a regression guard for the scale design."""
    spec = synth.T1
    df = SJ.zonal_stats_fused(
        images_t1, synth.ZONES_T1,
        origin=(spec.x0, spec.y0), cellsize=(spec.cellx, spec.celly),
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    n_exchange = plan.count("Exchange")
    # formatted plans list each node once in the tree and once in the
    # details section → exactly one Exchange node appears twice
    assert plan.count("(") > 0
    assert n_exchange <= 2, f"unexpected extra shuffles:\n{plan}"


def _plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_gini_and_map_vector_have_no_global_window(spark, images_t1):
    """Regression guard for the distributed prefix-sum rewrite: neither
    gini nor map_vector may plan an unpartitioned Window (a single-task
    wall at scale). Both results stay correct (checked vs closed
    forms / direct join)."""
    px = PX.pixel_table(images_t1, valid_only=True).select(
        "row", "col", F.col("value").cast("long").alias("value")
    )
    g = AL.gini_agg(px.select("value"))
    vec = spark.range(200000).select(
        F.col("id").alias("i"), ((F.col("id") * 37) % 1000).alias("new_value")
    )
    mv = AL.map_vector(px.select("row", "col"), vec)
    for df in (g, mv):
        plan = _plan_of(df)
        assert "Window" not in plan, f"global window leaked back in:\n{plan}"
    # sanity: map_vector really enumerates 0..n-1 in (row, col) order
    got = mv.orderBy("i").limit(3).toPandas()
    assert list(got["i"]) == [0, 1, 2]
    first = px.orderBy("row", "col").limit(3).toPandas()
    assert list(got["row"]) == list(first["row"])
    assert list(got["col"]) == list(first["col"])


def test_knn_pixels_plan_has_tile_hash_join(spark, images_t1):
    """knn_pixels probes must reach the pixel table through a broadcast
    HASH join on the derived tile keys — never a bare nested-loop scan
    of all pixels per round."""
    from georasters_spark.operators import knn as KN

    spec = synth.T1
    px = PX.pixel_table(
        images_t1, valid_only=True,
        origin=(spec.x0, spec.y0), cellsize=(spec.cellx, spec.celly),
    ).select("row", "col", "value", "xc", "yc")
    out = KN.knn_pixels(
        px, synth.points_df(spark, 4), k=3,
        origin=(spec.x0, spec.y0), cellsize=(spec.cellx, spec.celly),
    )
    plan = _plan_of(out)
    assert "BroadcastHashJoin" in plan, plan
    assert "_trow" in plan and "_tcol" in plan


def test_cost_distance_gate_has_no_driver_collect(spark, images_t1):
    """The gated cost_distance path must not collect the pixel table:
    block_sssp touches it only via the halo-replication plan. We assert
    the structural property (pixel_table feeds mapInPandas/joins, and
    the returned distances equal the broadcast fast path)."""
    from georasters_spark.operators import distance as DI

    spec = synth.T1
    pts = synth.points_df(spark, 8)
    kw = dict(origin=(spec.x0, spec.y0), cellsize=(spec.cellx, spec.celly))
    a = DI.cost_distance(images_t1, pts.filter(F.col("point_id") < 2),
                         pts.filter(F.col("point_id") >= 2), **kw).toPandas()
    b = DI.cost_distance_broadcast(images_t1, pts.filter(F.col("point_id") < 2),
                                   pts.filter(F.col("point_id") >= 2), **kw).toPandas()
    a = a.sort_values(["id1", "id2"]).reset_index(drop=True)
    b = b.sort_values(["id1", "id2"]).reset_index(drop=True)
    assert len(a) == len(b)
    assert (a.id1 == b.id1).all() and (a.id2 == b.id2).all()
    assert np.allclose(a.dist_weeks, b.dist_weeks, atol=2e-6)


def test_union_later_wins_property(spark):
    """Random mosaics: union_pixels == numpy paste-in-order oracle."""
    rng = np.random.default_rng(17)
    h, w = 30, 40
    layers = []
    for k in range(3):
        vals = rng.integers(1, 100, (h, w))
        mask = rng.uniform(size=(h, w)) < 0.5
        layers.append(np.where(mask, vals, -1))
    dfs = []
    for arr in layers:
        rows = [
            (int(r), int(c), int(arr[r, c]))
            for r in range(h) for c in range(w) if arr[r, c] != -1
        ]
        dfs.append(spark.createDataFrame(rows, "row long, col long, value long"))
    got = AL.union_pixels(dfs).toPandas()
    grid = np.full((h, w), -1, dtype=np.int64)
    for arr in layers:  # list order: later overwrite where they have data
        has = arr != -1
        grid[has] = arr[has]
    exp = {(r, c): grid[r, c] for r in range(h) for c in range(w) if grid[r, c] != -1}
    assert len(got) == len(exp)
    for r in got.itertuples():
        assert exp[(r.row, r.col)] == r.value


def test_t2_tier_round2_operators(spark):
    """4x-scale drill (2160x1080, 2.3M cells) for round-2 operators:
    reproject-nearest and row-standardized global autocorr both match
    their independent numpy oracles at T2 size."""
    import math

    from georasters_spark.operators import autocorr as AC
    from georasters_spark.operators import reproject as RP

    spec = synth.T2
    imgs = synth.build_images(spark, spec).cache()
    try:
        full = synth.stitched_array(spec).astype(np.float64)
        px = PX.pixel_table(imgs, valid_only=True).select(
            "row", "col", F.col("value").cast("long").alias("value")
        )

        # reproject nearest at T2: warped grid == numpy oracle cell-for-cell
        out_shape = (256, 512)
        got = RP.reproject(
            px.select("row", "col", "value"), 4326, 6933,
            (spec.x0, spec.y0), (spec.cellx, spec.celly),
            (spec.height, spec.width), out_shape,
        ).toPandas()
        exp = NO.warp_numpy_oracle(
            full, spec.ndv, (spec.x0, spec.y0), (spec.cellx, spec.celly), out_shape
        )
        grid = np.full(out_shape, spec.ndv)
        vals = got.dropna(subset=["value"])
        grid[vals.trow.to_numpy(), vals.tcol.to_numpy()] = vals.value.to_numpy()
        assert (grid != exp).sum() == 0

        # row-standardized Moran/Geary at T2 vs direct numpy
        row = AC.global_autocorr_rowstd(px).collect()[0]
        valid = full != spec.ndv
        v = np.where(valid, full, np.nan)
        n = int(valid.sum())
        mean = np.nansum(v) / n
        z = np.where(valid, v - mean, 0.0)
        num_m = num_c = 0.0
        nw = 0
        h, w = v.shape
        # vectorized over the 8 shifts: per-cell deg + weighted lags
        deg = np.zeros((h, w))
        lag = np.zeros((h, w))
        csum = np.zeros((h, w))
        for dr in (-1, 0, 1):
            for dc in (-1, 0, 1):
                if (dr, dc) == (0, 0):
                    continue
                sh = np.zeros((h, w), dtype=bool)
                src = (slice(max(0, -dr), h - max(0, dr)), slice(max(0, -dc), w - max(0, dc)))
                dst = (slice(max(0, dr), h + min(0, dr)), slice(max(0, dc), w + min(0, dc)))
                ok = valid[src] & valid[dst]
                deg[dst] += ok
                lag[dst] += np.where(ok, z[src], 0.0)
                csum[dst] += np.where(ok, (v[dst] - v[src]) ** 2, 0.0)
        has = valid & (deg > 0)
        nw = int(has.sum())
        num_m = float((z[has] / deg[has] * lag[has]).sum())
        num_c = float((csum[has] / deg[has]).sum())
        den = float((z[valid] ** 2).sum())
        exp_m = (n / nw) * num_m / den
        exp_c = ((n - 1) / (2.0 * nw)) * num_c / den
        assert math.isfinite(row["moran_r"]) and abs(row["moran_r"] - exp_m) < 1e-9
        assert abs(row["geary_r"] - exp_c) < 1e-9
        assert row["n"] == n and row["nw"] == nw
    finally:
        imgs.unpersist()


def test_polygonize_distributed_merge_executor_side(spark, monkeypatch):
    """The merge='distributed' path (the gated/100-TB plan) must produce
    the identical component-min labels as the driver union-find WITHOUT
    any driver-side edge collect: DataFrame.toPandas is poisoned for the
    whole distributed build. Fixture: 256x256 with full-width bands
    (each spanning 4 tile columns) plus a 4-tile-tall vertical strip, so
    the cross-tile merge and pointer-jumping rounds really run."""
    from pyspark.sql import DataFrame

    n = 256
    base = spark.range(n * n).select(
        (F.col("id") / n).cast("long").alias("row"),
        (F.col("id") % n).alias("col"),
    )
    px = base.withColumn(
        "value",
        F.when(F.col("col") < 2, F.lit(-5.0)).otherwise(
            (F.col("row") / 40).cast("long").cast("double")
        ),
    )
    exp = AL.polygonize_labels(px, merge="driver").toPandas()

    def poisoned(self):
        raise AssertionError("driver-side collect inside distributed merge")

    orig = DataFrame.toPandas
    monkeypatch.setattr(DataFrame, "toPandas", poisoned)
    try:
        got_df = AL.polygonize_labels(px, merge="distributed")
        assert got_df.count() == n * n  # force execution while poisoned
    finally:
        monkeypatch.setattr(DataFrame, "toPandas", orig)
    a = exp.sort_values(["row", "col"]).reset_index(drop=True)
    b = got_df.toPandas().sort_values(["row", "col"]).reset_index(drop=True)
    assert (a["region_id"].to_numpy() == b["region_id"].to_numpy()).all()
    assert (a["value"].to_numpy() == b["value"].to_numpy()).all()
    # the fixture really exercises multi-tile components
    sizes = b.groupby("region_id").size()
    assert sizes.max() >= 40 * (n - 2)


def test_zonal_stats_custom_bounded_tasks(spark, images_t1):
    """Base moments must never plan a zone-keyed grouped-map (no
    add_stats -> no FlatMapGroupsInPandas at all); the combinable
    (map_fn, reduce_fn) form matches the whole-zone callable; the
    whole-zone path RAISES past max_zone_cells instead of OOMing."""
    import pytest

    spec = synth.T1
    kw = dict(origin=(spec.x0, spec.y0), cellsize=(spec.cellx, spec.celly))
    base = SJ.zonal_stats_custom(images_t1, synth.ZONES_T1, **kw)
    plan = _plan_of(base)
    assert "FlatMapGroupsInPandas" not in plan, plan

    a = SJ.zonal_stats_custom(
        images_t1, synth.ZONES_T1, **kw,
        add_stats={"vmx": lambda v: float(v.max())},
    ).toPandas().sort_values("zone_id").reset_index(drop=True)
    b = SJ.zonal_stats_custom(
        images_t1, synth.ZONES_T1, **kw,
        add_stats={"vmx": (lambda v: float(v.max()), lambda p: float(p.max()))},
    ).toPandas().sort_values("zone_id").reset_index(drop=True)
    assert (a["vmx"] == b["vmx"]).all()
    assert (a["vmx"] == a["zmax"]).all()

    capped = SJ.zonal_stats_custom(
        images_t1, synth.ZONES_T1, **kw,
        add_stats={"p50": lambda v: float(np.median(v))},
        max_zone_cells=10,
    )
    with pytest.raises(Exception, match="max_zone_cells"):
        capped.toPandas()


def test_zonal_extended_median_majority_vs_numpy(spark, images_t1):
    """zmedian/zmajority vs direct numpy on the stitched grid (exact,
    including the even-count two-middle average and the smallest-value
    tie-break for majority); base moments vs the numpy zonal oracle."""
    spec = synth.T1
    out = SJ.zonal_stats_extended(
        images_t1, synth.ZONES_T1,
        origin=(spec.x0, spec.y0), cellsize=(spec.cellx, spec.celly),
        percentiles=[25, 90],
    ).toPandas()
    NO.assert_zonal_matches(out, NO.zonal_numpy_oracle(spec, synth.ZONES_T1))
    out = out.set_index("zone_id")
    want = NO.zone_values(spec, synth.ZONES_T1)
    assert sorted(out.index) == sorted(want)
    for zid, v in want.items():
        assert out.loc[zid, "zmedian"] == float(np.median(v))
        # rasterstats percentile_XX parity: numpy's default linear rule
        assert abs(out.loc[zid, "zp25"] - np.percentile(v, 25)) < 1e-9
        assert abs(out.loc[zid, "zp90"] - np.percentile(v, 90)) < 1e-9
        vals, cnts = np.unique(v, return_counts=True)
        want_maj = int(vals[np.lexsort((vals, -cnts))][0])
        assert out.loc[zid, "zmajority"] == want_maj
        want_mnr = int(vals[np.lexsort((vals, cnts))][0])
        assert out.loc[zid, "zminority"] == want_mnr
        assert out.loc[zid, "zunique"] == len(vals)
        assert out.loc[zid, "zrange"] == int(v.max() - v.min())


def _persistent_rdd_ids(spark) -> set:
    it = spark.sparkContext._jsc.getPersistentRDDs().keySet().iterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next())
    return ids


def test_knn_executor_coordination_and_hierarchical_counts(spark, images_t1):
    """knn_pixels: no cache leak (no NEW persistent RDD survives a full
    run — compared by RDD id, not by count, because the async
    ContextCleaner may release earlier tests' checkpointed RDDs between
    the two samples) and identical exact results when the hierarchical
    super-block counts are forced on (cap=1). knn_tiles: identical
    results when counts aggregate at a coarse parent cell level."""
    from georasters_spark.operators import knn as KN

    spec = synth.T1
    kw = dict(origin=(spec.x0, spec.y0), cellsize=(spec.cellx, spec.celly))
    px = PX.pixel_table(images_t1, valid_only=True, **kw).select(
        "row", "col", "value", "xc", "yc"
    )
    pts = synth.points_df(spark, 6)

    before = _persistent_rdd_ids(spark)
    a = KN.knn_pixels(px, pts, k=4, **kw).toPandas()
    leaked = _persistent_rdd_ids(spark) - before
    assert not leaked, f"knn_pixels leaked cached tables: {leaked}"

    b = KN.knn_pixels(px, pts, k=4, max_count_blocks=1, **kw).toPandas()
    a = a.sort_values(["point_id", "knn_rank"]).reset_index(drop=True)
    b = b.sort_values(["point_id", "knn_rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)

    t_fine = KN.knn_tiles(images_t1, pts, res=3, k=3).toPandas()
    t_coarse = KN.knn_tiles(images_t1, pts, res=3, k=3, max_count_cells=1).toPandas()
    t_fine = t_fine.sort_values(["point_id", "knn_rank"]).reset_index(drop=True)
    t_coarse = t_coarse.sort_values(["point_id", "knn_rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(t_fine, t_coarse)
    # explicit count_res skips the countDistinct job, same results
    t_skip = KN.knn_tiles(images_t1, pts, res=3, k=3, count_res=3).toPandas()
    t_skip = t_skip.sort_values(["point_id", "knn_rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(t_fine, t_skip)


def test_gini_all_zero_input_is_nan(spark):
    """Zero value total: the reference's B = sum(y)/(y_last·n) divides
    by zero and yields nan — not a ZeroDivisionError crash."""
    vals = spark.range(10).select(F.lit(0).cast("long").alias("value"))
    got = AL.gini_agg(vals).toPandas().iloc[0]
    assert got["n"] == 10 and np.isnan(got["gini"])


def test_t2_tier_round3_operators(spark):
    """4x-scale drill (2160x1080, 2.3M cells) for round-3 operators:
    the distributed polygonize merge equals the driver union-find on a
    T2-sized quantized field, and the UTM Krüger warp matches its numpy
    oracle at T2 resolution."""
    from georasters_spark.operators import reproject as RP

    spec = synth.T2
    imgs = synth.build_images(spark, spec).cache()
    try:
        px = PX.pixel_table(imgs, valid_only=True).select(
            "row", "col", F.col("value").cast("long").alias("value")
        )

        # polygonize: distributed min-label propagation == driver
        # union-find on the full T2 grid (quantized /250)
        pq = px.select("row", "col", (F.col("value") / 250).cast("long").alias("value"))
        a = AL.polygonize(pq, merge="driver").toPandas()
        b = AL.polygonize(pq, merge="distributed").toPandas()
        key = ["region_id"]
        a = a.sort_values(key).reset_index(drop=True)
        b = b.sort_values(key).reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b)
        assert len(a) > 100_000  # genuinely large region set

        # UTM zone-31 window warp at T2 vs the numpy oracle
        out_shape = (128, 64)
        bbox = (0.0, 30.0, 6.0, 60.0)
        got = RP.reproject(
            px, 4326, 32631, (spec.x0, spec.y0), (spec.cellx, spec.celly),
            (spec.height, spec.width), out_shape, bbox_lonlat=bbox,
        ).toPandas()
        full = synth.stitched_array(spec).astype(np.float64)
        exp = NO.reproject_any_numpy_oracle(
            full, spec.ndv, 4326, 32631, (spec.x0, spec.y0),
            (spec.cellx, spec.celly), out_shape, bbox_lonlat=bbox,
        )
        grid = np.full(out_shape, spec.ndv)
        vals = got.dropna(subset=["value"])
        grid[vals.trow.to_numpy(), vals.tcol.to_numpy()] = vals.value.to_numpy()
        assert (grid != exp).sum() == 0
    finally:
        imgs.unpersist()


def test_knn_pixels_point_far_outside_extent(spark):
    """A query point far beyond the raster extent must still get its k
    true nearest pixels (the ring expansion clamps its home block into
    the occupied span and adds the offset back into the radius) —
    regression for the one-pass-estimate rewrite."""
    from georasters_spark.operators import knn as KN

    rows = [(r, c, r * 100 + c, c + 0.5, -(r + 0.5))
            for r in range(40) for c in range(40)]
    px = spark.createDataFrame(
        pd.DataFrame(rows, columns=["row", "col", "value", "xc", "yc"]),
        "row long, col long, value long, xc double, yc double",
    )
    pts = spark.createDataFrame(
        [(1, 5000.5, -5000.5), (2, 20.5, -20.5)],
        "point_id long, x double, y double",
    )
    got = KN.knn_pixels(px, pts, k=3, origin=(0.0, 0.0), cellsize=(1.0, -1.0),
                        tile=16).toPandas()
    far = got[got.point_id == 1]
    assert len(far) == 3
    # true nearest to (5000, 5000) is the raster corner (39, 39)
    assert far.sort_values("knn_rank").iloc[0][["row", "col"]].tolist() == [39, 39]
    near = got[got.point_id == 2]
    assert len(near) == 3
    assert near.sort_values("knn_rank").iloc[0][["row", "col"]].tolist() == [20, 20]


def test_flow_accumulation_logarithmic_rounds(spark):
    """Scale guard for the Euler-tour flow accumulation: on a long
    serpentine river (the hydrology worst case that made the old
    Jacobi fixpoint take one Spark round PER CELL of the longest flow
    path), the pointer-jumping loop must finish in O(log path) rounds
    and still produce the exact per-cell accumulation."""
    import math

    from georasters_spark.operators import terrain as TR

    # 1xN descending river: a single D8 flow path of length N (steepest
    # descent is the only neighbor), the shape that made the old
    # fixpoint run N rounds
    n = 960
    dem = spark.createDataFrame(
        [(0, c, n - c) for c in range(n)], "row long, col long, value long")
    acc = TR.flow_accumulation(dem).toPandas()
    assert TR.LAST_FLOW_ACC_ROUNDS <= 2 * math.ceil(math.log2(n)) + 2, (
        f"{TR.LAST_FLOW_ACC_ROUNDS} rounds for path length {n} — "
        "round count must be logarithmic, not linear, in the flow path")
    # exactness on the chain: cell c drains everything upstream of it
    for t in acc.itertuples(index=False):
        assert t.acc == t.col + 1, (t.col, t.acc)


def test_color_relief_plan_broadcast_no_shuffle(spark):
    """color_relief must stay a broadcast range join: pixels never
    shuffle, the ramp-segment build side broadcasts."""
    from georasters_spark.operators import terrain as TR

    px = spark.range(1000).select(
        F.floor(F.col("id") / 100).alias("row"),
        (F.col("id") % 100).alias("col"),
        (F.col("id") % 1997).alias("value"))
    out = TR.color_relief(
        px, [(0, 0, 0, 0), (500, 100, 100, 100), (1996, 255, 255, 255)])
    plan = _plan_of(out)
    assert "BroadcastNestedLoopJoin" in plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "CartesianProduct" not in plan, plan
