"""Capture .explain('formatted') for the bench-shaped heavy queries.

Usage: python tools/capture_plans.py <outdir> [query ...]
Runs from whichever tree is first on sys.path (cwd), so the same script
captures 'before' plans from an exported HEAD tree and 'after' plans
from the working tree.  explain() only plans — nothing executes except
tiny first() probes inside operator constructors.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.getcwd())

from pyspark.sql import functions as F  # noqa: E402


def build(spark, name):
    from georasters_spark.operators import algebra as AL
    from georasters_spark.operators import dedup as DD
    from georasters_spark.operators import focal as FO
    from georasters_spark.operators import pixels as PX
    from georasters_spark.operators import reproject as RP
    from georasters_spark.operators import spatial_join as SJ
    from georasters_spark.operators import terrain as TR
    from georasters_spark.operators import xyz as XYZ
    from georasters_spark.queries import _dem
    from georasters_spark.sources import synth

    spec = synth.BENCH
    imgs = synth.build_images(spark, spec, fmt="raw16")
    kw = dict(origin=(spec.x0, spec.y0), cellsize=(spec.cellx, spec.celly))
    pxq = PX.pixel_table(
        imgs.filter((F.col("tile_row") < 16) & (F.col("tile_col") < 16)),
        valid_only=True,
    ).filter((F.col("row") < 1024) & (F.col("col") < 1024)).select(
        "row", "col",
        (F.col("value").cast("long") / 250).cast("long").alias("value"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if name == "polygonize_1M_distributed":
        return AL.polygonize(pxq, merge="distributed")
    if name == "sieve_1M":
        return AL.sieve(pxq, threshold=2)
    if name == "xyz_pyramid_z3":
        return XYZ.xyz_pyramid(
            imgs, (spec.x0, spec.y0), (spec.cellx, spec.celly),
            base_zoom=3, min_zoom=0, ndv=spec.ndv,
            tile_shape=(spec.tile, spec.tile))
    if name == "reproject_nearest_9M":
        return RP.reproject(
            None, 4326, "cea", (spec.x0, spec.y0), (spec.cellx, spec.celly),
            (spec.height, spec.width), (1024, 2048), images=imgs)
    if name == "reproject_joinplan":
        px = PX.pixel_table(imgs, valid_only=True).select("row", "col", "value")
        return RP.reproject(
            px, 4326, "cea", (spec.x0, spec.y0), (spec.cellx, spec.celly),
            (spec.height, spec.width), (1024, 2048))
    if name == "reproject_bilinear_tiles":
        return RP.reproject(
            None, 4326, "cea", (spec.x0, spec.y0), (spec.cellx, spec.celly),
            (spec.height, spec.width), (1024, 2048), resampling="bilinear", images=imgs)
    if name == "zonal_skew_salted":
        zskew = [z for z in synth.ZONES_EXTRA if z.name == "skew_half_world"]
        return SJ.zonal_stats(imgs, zskew, **kw)
    if name == "focal_mean5_9M":
        return FO.focal_sums(_dem(spark, spec.height, spec.width), k=5)
    if name == "terrain_horn_9M_halo":
        return TR.slope_aspect_hillshade(
            _dem(spark, spec.height, spec.width),
            cellsize=(spec.cellx, spec.celly), zfactor=0.001)
    if name == "jaccard_dedup":
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return DD.jaccard_pairs(docs, n=3, threshold=0.5)
    if name == "zonal_stats":
        return SJ.zonal_stats_fused(imgs, synth.ZONES_T1, **kw)
    if name == "map_pixel_10k":
        return PX.lookup_points_fused(imgs, synth.points_df(spark, 10000),
                                      origin=(spec.x0, spec.y0),
                                      cellsize=(spec.cellx, spec.celly))
    if name == "knn_1k_points":
        from georasters_spark.operators import knn as KN
        return KN.knn_tiles(imgs, synth.points_df(spark, 1000),
                            res=spec.cell_res, k=5, count_res=spec.cell_res)
    if name == "reproject_cubic_tiles":
        return RP.reproject(
            None, 4326, "cea", (spec.x0, spec.y0), (spec.cellx, spec.celly),
            (spec.height, spec.width), (1024, 2048), resampling="cubic", images=imgs)
    if name == "reproject_lanczos_tiles":
        return RP.reproject(
            None, 4326, "cea", (spec.x0, spec.y0), (spec.cellx, spec.celly),
            (spec.height, spec.width), (1024, 2048), resampling="lanczos", images=imgs)
    raise SystemExit(f"unknown query {name}")


def main():
    outdir = sys.argv[1]
    names = sys.argv[2:]
    os.makedirs(outdir, exist_ok=True)
    from georasters_spark.session import get_spark

    spark = get_spark(app_name="capture_plans", cores=8)
    for name in names:
        df = build(spark, name)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {name} ({len(buf.getvalue())} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
