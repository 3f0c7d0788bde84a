"""Distributed focal stencils: seam exactness (tile-size invariance)
and a generic focal_apply kernel vs direct whole-array numpy."""

import numpy as np
from pyspark.sql import functions as F

from georasters_spark.operators import focal as FO
from georasters_spark.operators import pixels as PX
from georasters_spark.sources import synth


def test_focal_sums_tile_invariance(spark, images_t1):
    """Identical results at tile=32 and tile=64: the halo assembly is
    exact across seams (any loss/duplication shifts border sums)."""
    px = PX.pixel_table(images_t1, valid_only=True).select(
        "row", "col", F.col("value").cast("long").alias("value")
    )
    a = FO.focal_sums(px, k=5, tile=64).toPandas().sort_values(
        ["row", "col"]).reset_index(drop=True)
    b = FO.focal_sums(px, k=5, tile=32).toPandas().sort_values(
        ["row", "col"]).reset_index(drop=True)
    import pandas as pd
    pd.testing.assert_frame_equal(a, b)
    assert len(a) > 100_000


def test_focal_apply_generic_median_vs_numpy(spark, images_t1):
    """Arbitrary kernel through focal_apply (nan-median over 3x3 valid
    cells) == direct whole-array numpy — the scipy.ndimage-replacement
    contract."""
    spec = synth.T1
    px = PX.pixel_table(images_t1, valid_only=True).select(
        "row", "col", F.col("value").cast("long").alias("value")
    )

    def fn(swv, swm):
        import warnings
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")  # all-nan windows
            return np.nanmedian(swv, axis=(2, 3))

    got = FO.focal_apply(px, fn, k=3).toPandas()
    full = synth.stitched_array(spec).astype(np.float64)
    arr = np.where(full == spec.ndv, np.nan, full)
    pad = np.full((spec.height + 2, spec.width + 2), np.nan)
    pad[1:-1, 1:-1] = arr
    swv = np.lib.stride_tricks.sliding_window_view(pad, (3, 3))
    import warnings
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        exp = np.nanmedian(swv, axis=(2, 3))
    valid = ~np.isnan(arr)
    assert len(got) == int(valid.sum())
    g = np.full(arr.shape, np.nan)
    g[got["row"].to_numpy(), got["col"].to_numpy()] = got["value"].to_numpy()
    both = valid
    assert np.allclose(g[both], exp[both], equal_nan=True)


def test_focal_sums_tiles_matches_pixel_plan(spark, images_t1):
    """The tiles-in stencil (decode-in-place + halo-strip exchange)
    must be VALUE-IDENTICAL to the pixel halo-replication plan,
    including ndv masking and tile-seam windows."""
    from georasters_spark.operators import pixels as PX

    px = PX.pixel_table(images_t1, valid_only=True).select(
        "row", "col", "value")
    a = {(r["row"], r["col"]): (r["value"], r["fsum"], r["fcnt"], r["fmean"])
         for r in FO.focal_sums(px, k=5).collect()}
    b = {(r["row"], r["col"]): (r["value"], r["fsum"], r["fcnt"], r["fmean"])
         for r in FO.focal_sums_tiles(images_t1, k=5).collect()}
    assert a == b and len(a) > 50000


def test_focal_apply_tiles_duplicate_tile_raises(spark, images_t1):
    doubled = images_t1.unionByName(images_t1.limit(1))
    import pytest as _pt
    with _pt.raises(Exception, match="image rows share tile"):
        FO.focal_sums_tiles(doubled, k=3).collect()


def test_focal_tiles_reject_mixed_tile_shapes(spark, images_t1_mixed):
    """Stencil blocks place tiles by the uniform tile shape: a table
    with one tile of another shape must raise instead of writing that
    tile's cells at the wrong window offset."""
    import pytest as _pt
    with _pt.raises(Exception, match="expected uniform"):
        FO.focal_sums_tiles(images_t1_mixed, k=3).collect()


def test_integer_stencils_refuse_values_beyond_2_53(spark):
    """The stencil window is float64, exact for integers below 2^53 in
    magnitude; a 2^53+1 cell must raise instead of rounding to 2^53 in
    the int64 sums of TPI and focal_stats."""
    import pytest

    from georasters_spark.operators import autocorr as AC
    from georasters_spark.operators import terrain as TR

    rows = [(r, c, 5) for r in range(3) for c in range(3)]
    rows[4] = (1, 1, 2 ** 53 + 1)
    px = spark.createDataFrame(rows, "row long, col long, value long")
    for op in (TR.tpi_tri_roughness, AC.focal_stats):
        with pytest.raises(Exception, match=r"\|value\| >= 2\^53"):
            op(px).collect()
    # one below the bound stays exact end to end
    rows[4] = (1, 1, 2 ** 53 - 1)
    px = spark.createDataFrame(rows, "row long, col long, value long")
    t = [t for t in AC.focal_stats(px, include_self=True).collect()
         if (t.row, t.col) == (0, 0)][0]
    assert t.nsum == 2 ** 53 - 1 + 15 and t.ncnt == 4
