"""XYZ tile pyramid (operators/xyz.py — the gdal2tiles role).

Numpy differential oracle: the base-level warp must equal a
straightforward inverse-Mercator nearest gather over the stitched
array, and the overview level must equal a 2x2 valid-aware rounded
average of the base tiles.  Plus bbox pruning and absent-child
semantics.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from georasters_spark import queries as Q
from georasters_spark.operators import xyz as XYZ
from georasters_spark.sources import codec, synth

SPEC = synth.T1
T = 256


def _numpy_base(zoom: int, tile_px: int = T) -> np.ndarray:
    """(side, side) int64 lattice of gathered values, ndv where invalid."""
    full = synth.stitched_array(SPEC).astype(np.int64)
    side = (1 << zoom) * tile_px
    tcx = 2.0 * XYZ.M_HALF / side
    xm = -XYZ.M_HALF + (np.arange(side) + 0.5) * tcx
    ym = XYZ.M_HALF - (np.arange(side) + 0.5) * tcx
    lon = xm / XYZ.R * 180.0 / math.pi
    lat = (2.0 * np.arctan(np.exp(ym / XYZ.R)) - math.pi / 2) * 180.0 / math.pi
    # the engine-stable quantized floor (reproject module doc)
    col = np.floor(np.round((lon - SPEC.x0) / SPEC.cellx, 4)).astype(np.int64)
    row = np.floor(np.round((lat - SPEC.y0) / SPEC.celly, 4)).astype(np.int64)
    out = np.full((side, side), int(SPEC.ndv), dtype=np.int64)
    okr = (row >= 0) & (row < SPEC.height)
    okc = (col >= 0) & (col < SPEC.width)
    rr = np.where(okr, row, 0)[:, None]
    cc = np.where(okc, col, 0)[None, :]
    vals = full[rr, cc]
    mask = okr[:, None] & okc[None, :]
    out[mask] = vals[mask]
    return out


def _decode_tiles(rows, tile_px: int = T) -> dict:
    out = {}
    for r in rows:
        a = codec.decode_tile(bytes(r["bytes"]), "png", tile_px, tile_px,
                              SPEC.ndv)
        out[(int(r["z"]), int(r["x"]), int(r["y"]))] = (
            a.astype(np.int64), int(r["n_valid"]))
    return out


@pytest.fixture(scope="module")
def base_rows(spark, images_t1):
    tiles = XYZ.xyz_base_tiles(
        images_t1, (SPEC.x0, SPEC.y0), (SPEC.cellx, SPEC.celly),
        zoom=1, ndv=SPEC.ndv, tile_shape=(SPEC.tile, SPEC.tile))
    return tiles.collect()


def test_base_level_matches_numpy(base_rows):
    lattice = _numpy_base(zoom=1)
    got = _decode_tiles(base_rows)
    assert set(got) == {(1, x, y) for x in range(2) for y in range(2)}
    for (z, x, y), (arr, n_valid) in got.items():
        exp = lattice[y * T:(y + 1) * T, x * T:(x + 1) * T]
        assert (arr == exp).all(), f"tile {z}/{x}/{y} mismatch"
        assert n_valid == int((exp != int(SPEC.ndv)).sum())


def test_overview_matches_numpy(spark, base_rows):
    base = spark.createDataFrame(base_rows)
    got = _decode_tiles(XYZ.xyz_overview(base, ndv=SPEC.ndv).collect())
    assert set(got) == {(0, 0, 0)}
    lattice = _numpy_base(zoom=1).astype(np.float64)
    lattice[lattice == int(SPEC.ndv)] = np.nan
    q = lattice.reshape(T, 2, T, 2)
    cnt = (~np.isnan(q)).sum(axis=(1, 3))
    s = np.nansum(q, axis=(1, 3))
    exp = np.full((T, T), int(SPEC.ndv), dtype=np.int64)
    ok = cnt > 0
    exp[ok] = np.floor(s[ok] / cnt[ok] + 0.5).astype(np.int64)
    arr, n_valid = got[(0, 0, 0)]
    assert (arr == exp).all()
    assert n_valid == int(ok.sum())


def test_overview_absent_children(spark, base_rows):
    """Dropping a child tile must yield all-ndv in that quadrant, not
    an error or stale data."""
    kept = [r for r in base_rows if not (r["x"] == 1 and r["y"] == 0)]
    base = spark.createDataFrame(kept)
    arr, n_valid = _decode_tiles(
        XYZ.xyz_overview(base, ndv=SPEC.ndv).collect())[(0, 0, 0)]
    half = T // 2
    assert (arr[:half, half:] == int(SPEC.ndv)).all()
    # the other three quadrants still carry data
    assert (arr[:half, :half] != int(SPEC.ndv)).any()


def test_bbox_pruning(spark, images_t1):
    """bbox_tiles restricts generation — only the window's tiles are
    emitted, value-identical to the full run."""
    tiles = XYZ.xyz_base_tiles(
        images_t1, (SPEC.x0, SPEC.y0), (SPEC.cellx, SPEC.celly),
        zoom=1, ndv=SPEC.ndv, tile_shape=(SPEC.tile, SPEC.tile),
        bbox_tiles=(0, 0, 1, 1))
    got = _decode_tiles(tiles.collect())
    assert set(got) == {(1, 0, 0)}
    exp = _numpy_base(zoom=1)[:T, :T]
    assert (got[(1, 0, 0)][0] == exp).all()


def test_pyramid_union_shape(spark, images_t1):
    rows = XYZ.xyz_pyramid(
        images_t1, (SPEC.x0, SPEC.y0), (SPEC.cellx, SPEC.celly),
        base_zoom=1, min_zoom=0, ndv=SPEC.ndv,
        tile_shape=(SPEC.tile, SPEC.tile)).collect()
    zs = sorted((int(r["z"]), int(r["x"]), int(r["y"])) for r in rows)
    assert zs == [(0, 0, 0), (1, 0, 0), (1, 0, 1), (1, 1, 0), (1, 1, 1)]


def test_incremental_update_equals_full_recompute(spark, images_t1):
    """xyz_update over changed source tiles == from-scratch pyramid at
    the new state, byte for byte (rebuilt base and overview tiles
    included); untouched base tiles stay BIT-identical to the prior
    snapshot (never re-encoded).  Zoom 1 with one changed tile, and
    zoom 2 with two changed tiles on the lon-0 target-tile seam (source
    tile column 4 spans lon -9.3..33.3; row 2 also spans the equator)."""
    spec = SPEC
    kw = dict(tile_px=T, ndv=spec.ndv, tile_shape=(spec.tile, spec.tile))
    for zoom, changed, seed in ((1, [(1, 2)], 91), (2, [(1, 4), (2, 4)], 92)):
        hit = F.lit(False)
        for tr, tc in changed:
            hit = hit | ((F.col("tile_row") == tr) & (F.col("tile_col") == tc))
        v2 = synth.build_images(spark, synth.GridSpec(seed=seed)).filter(
            hit).unionByName(images_t1.filter(~hit))
        prior = XYZ.xyz_pyramid(images_t1, (spec.x0, spec.y0),
                                (spec.cellx, spec.celly), base_zoom=zoom,
                                min_zoom=0, **kw)
        got = XYZ.xyz_update(v2, (spec.x0, spec.y0), (spec.cellx, spec.celly),
                             changed, prior, base_zoom=zoom, min_zoom=0,
                             src_tile=spec.tile, **kw)
        full = XYZ.xyz_pyramid(v2, (spec.x0, spec.y0),
                               (spec.cellx, spec.celly), base_zoom=zoom,
                               min_zoom=0, **kw)
        g = {(r["z"], r["x"], r["y"]): bytes(r["bytes"]) for r in got.collect()}
        f = {(r["z"], r["x"], r["y"]): bytes(r["bytes"]) for r in full.collect()}
        p = {(r["z"], r["x"], r["y"]): bytes(r["bytes"])
             for r in prior.collect()}
        assert len(g) == sum(4 ** z for z in range(zoom + 1))
        assert set(g) == set(f)
        affected = XYZ.affected_base_tiles(changed, (spec.x0, spec.y0),
                                           (spec.cellx, spec.celly),
                                           spec.tile, zoom, tile_px=T)
        if zoom == 2:
            # the changed tiles straddle the seam of target columns 1|2
            assert {x for x, _ in affected} >= {1, 2}, affected
        rebuilt = {k for k in g if g[k] != p[k]}
        assert rebuilt, "the update changed no tile"
        for k, b in g.items():
            assert b == f[k], f"tile {k} differs from the full recompute"
            if k[0] == zoom and (k[1], k[2]) not in affected:
                assert b == p[k], f"untouched base tile {k} was re-encoded"
        # the change reaches every level: rebuilt tiles on the base and
        # on each overview level
        assert {k[0] for k in rebuilt} == set(range(zoom + 1)), rebuilt


def test_affected_base_tiles_covers_changed_extent(spark):
    spec = SPEC
    aff = XYZ.affected_base_tiles([(0, 0)], (spec.x0, spec.y0),
                                  (spec.cellx, spec.celly), spec.tile, 1,
                                  tile_px=T)
    # tile (0,0) is the NW corner: must include target tile (0,0)
    assert (0, 0) in aff
    assert all(0 <= x < 2 and 0 <= y < 2 for x, y in aff)


def test_empty_change_list_returns_prior(spark, base_rows):
    spec = SPEC
    prior = spark.createDataFrame(base_rows)
    out = XYZ.xyz_update(prior, (spec.x0, spec.y0),
                         (spec.cellx, spec.celly), [], prior,
                         base_zoom=1, min_zoom=1)
    assert out is prior


def test_pyramid_catalog_snapshots_and_time_travel(spark, images_t1, tmp_path):
    """The published pyramid lives in the Iceberg-lite catalog like any
    other table: v1 pyramid appended as snapshot 1, the xyz_update
    result as snapshot 2 — time travel reads v1 back bit-identically
    while the current scan serves the updated tiles."""
    from georasters_spark.sources.catalog import SnapshotTable

    spec = SPEC
    kw = dict(tile_px=T, ndv=spec.ndv, tile_shape=(spec.tile, spec.tile))
    p1 = XYZ.xyz_pyramid(images_t1, (spec.x0, spec.y0),
                         (spec.cellx, spec.celly), base_zoom=1,
                         min_zoom=0, **kw)
    tbl = SnapshotTable(str(tmp_path / "pyramid"))
    tbl.append(p1, props={"base_zoom": "1", "state": "v1"})

    changed = [(2, 3)]
    v2 = synth.build_images(spark, synth.GridSpec(seed=93)).filter(
        (F.col("tile_row") == 2) & (F.col("tile_col") == 3)
    ).unionByName(images_t1.filter(
        ~((F.col("tile_row") == 2) & (F.col("tile_col") == 3))))
    p2 = XYZ.xyz_update(v2, (spec.x0, spec.y0), (spec.cellx, spec.celly),
                        changed, tbl.scan(spark), base_zoom=1, min_zoom=0,
                        src_tile=spec.tile, **kw)
    # overwrite, not append: the update is the table's new FULL content
    # (append semantics would union both pyramids in the v2 scan)
    tbl.overwrite(p2, props={"base_zoom": "1", "state": "v2"})

    assert tbl.current_version() == 2
    cur = {(r["z"], r["x"], r["y"]): bytes(r["bytes"])
           for r in tbl.scan(spark, version=2).collect()}
    old = {(r["z"], r["x"], r["y"]): bytes(r["bytes"])
           for r in tbl.scan(spark, version=1).collect()}
    v1_direct = {(r["z"], r["x"], r["y"]): bytes(r["bytes"])
                 for r in p1.collect()}
    assert old == v1_direct                       # time travel is exact
    assert set(cur) == set(old)
    diff = {k for k in cur if cur[k] != old[k]}
    assert diff                                   # the update landed
    full2 = {(r["z"], r["x"], r["y"]): bytes(r["bytes"])
             for r in XYZ.xyz_pyramid(v2, (spec.x0, spec.y0),
                                      (spec.cellx, spec.celly), base_zoom=1,
                                      min_zoom=0, **kw).collect()}
    for k in cur:
        av = codec.decode_tile(cur[k], "png", T, T, spec.ndv)
        fv = codec.decode_tile(full2[k], "png", T, T, spec.ndv)
        assert (av == fv).all()


def test_base_tiles_reject_mixed_tile_shapes(spark, images_t1_mixed):
    """The base-tile plan keys source tiles by the uniform tile shape:
    a table with one tile of another shape must raise instead of
    placing that tile's cells by its own w/h."""
    with pytest.raises(Exception, match="expected uniform"):
        XYZ.xyz_base_tiles(images_t1_mixed, (SPEC.x0, SPEC.y0),
                           (SPEC.cellx, SPEC.celly), zoom=1, ndv=SPEC.ndv,
                           tile_shape=(SPEC.tile, SPEC.tile)).collect()


def test_assemble_refuses_non_int16_values(spark, images_t1):
    """Fractional / out-of-range / ndv-colliding values must refuse
    loudly instead of wrapping into garbage PNG tiles (review
    finding)."""
    from georasters_spark.operators import pixels as PX

    spec = SPEC
    px = Q._px(spark, spec).select(
        "row", "col",
        (F.col("value").cast("double") + F.lit(0.5)).alias("value"))
    frac_imgs = PX.assemble_tiles(
        px, grid_id="gfrac", origin=(spec.x0, spec.y0),
        cellsize=(spec.cellx, spec.celly), tile=spec.tile, ndv=spec.ndv,
        fmt="rawf64", dtype="float64")
    with pytest.raises(Exception, match="int16-range integers"):
        XYZ.xyz_base_tiles(frac_imgs, (spec.x0, spec.y0),
                           (spec.cellx, spec.celly), zoom=1, ndv=spec.ndv,
                           tile_shape=(spec.tile, spec.tile)).count()


def test_streaming_pyramid_maintenance_matches_batch(spark, images_t1,
                                                     tmp_path):
    """Two micro-batches of tile updates through streaming/pyramid.py:
    the final catalog pyramid must decode identically to a from-scratch
    xyz_pyramid over the final images state, the final images table
    must equal the later-wins merge, and intermediate versions stay
    time-travelable."""
    from georasters_spark.sources.catalog import SnapshotTable
    from georasters_spark.streaming.pyramid import stream_pyramid_maintenance

    spec = SPEC
    kw = dict(tile_px=T, ndv=spec.ndv, tile_shape=(spec.tile, spec.tile))
    imgs_root = str(tmp_path / "imgs")
    pyr_root = str(tmp_path / "pyr")
    SnapshotTable(imgs_root).append(images_t1)
    SnapshotTable(pyr_root).append(
        XYZ.xyz_pyramid(images_t1, (spec.x0, spec.y0),
                        (spec.cellx, spec.celly), base_zoom=1, min_zoom=0,
                        **kw))

    src = tmp_path / "updates"
    src.mkdir()
    upd1 = synth.build_images(spark, synth.GridSpec(seed=91)).filter(
        (F.col("tile_row") == 1) & (F.col("tile_col") == 2))
    upd2 = synth.build_images(spark, synth.GridSpec(seed=92)).filter(
        (F.col("tile_row") == 3) & (F.col("tile_col") == 4))
    upd1.coalesce(1).write.parquet(str(src / "b1"))
    upd2.coalesce(1).write.parquet(str(src / "b2"))
    # the stream source reads the union of part files under src;
    # distinct mtimes pin the file->batch order (a modified-time tie
    # makes the two-batch sequencing arbitrary)
    import os
    import shutil
    import time as _time

    now = _time.time()
    for k, d in enumerate(("b1", "b2")):
        for f in (src / d).glob("part-*.parquet"):
            dst = src / f"{d}.parquet"
            shutil.move(str(f), str(dst))
            os.utime(dst, (now + 10 * k, now + 10 * k))
        shutil.rmtree(src / d)

    iv, pv = stream_pyramid_maintenance(
        spark, str(src), imgs_root, pyr_root,
        (spec.x0, spec.y0), (spec.cellx, spec.celly),
        base_zoom=1, min_zoom=0, src_tile=spec.tile, tile_px=T,
        ndv=spec.ndv)
    assert iv == 3 and pv == 3            # bootstrap + 2 batches

    final_imgs = SnapshotTable(imgs_root).scan(spark)
    assert final_imgs.count() == images_t1.count()
    v2 = upd1.unionByName(upd2).unionByName(images_t1.filter(
        ~(((F.col("tile_row") == 1) & (F.col("tile_col") == 2))
          | ((F.col("tile_row") == 3) & (F.col("tile_col") == 4)))))
    got = {(r["z"], r["x"], r["y"]): bytes(r["bytes"])
           for r in SnapshotTable(pyr_root).scan(spark).collect()}
    exp = {(r["z"], r["x"], r["y"]): bytes(r["bytes"])
           for r in XYZ.xyz_pyramid(v2, (spec.x0, spec.y0),
                                    (spec.cellx, spec.celly), base_zoom=1,
                                    min_zoom=0, **kw).collect()}
    assert set(got) == set(exp)
    for k in got:
        av = codec.decode_tile(got[k], "png", T, T, spec.ndv)
        fv = codec.decode_tile(exp[k], "png", T, T, spec.ndv)
        assert (av == fv).all(), f"streamed pyramid differs at {k}"
    # intermediate pyramid (after batch 1 only) is still readable
    mid = SnapshotTable(pyr_root).scan(spark, version=2)
    assert mid.count() == 5
