"""Phase-isolation benchmarks for the r7 optimization round (guide §1.4).

NOT the graded bench — bench.py is frozen.  Each sub-benchmark times one
piece of a heavy query with the noop sink so the computation, not the
sink, is measured, and labels jobs so a UI/event-log trace maps back to
phases.

Usage: python bench_extra.py <name> [...]   names: sieve, polygonize,
xyz, focal, reproject_sf1, zonal_skew, jaccard, ivf
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(spark, label, fn):
    spark.sparkContext.setJobDescription(label)
    t0 = time.time()
    out = fn()
    dt = time.time() - t0
    print(f"  {label:44s} {dt:7.3f}s", flush=True)
    spark.sparkContext.setJobDescription(None)
    return out, dt


def bench_grid(spark):
    from georasters_spark.sources import synth

    spec = synth.BENCH
    imgs = synth.build_images(spark, spec, fmt="raw16").persist()
    imgs.count()
    return spec, imgs


def pxq_1m(spark, imgs):
    from georasters_spark.operators import pixels as PX

    return PX.pixel_table(
        imgs.filter((F.col("tile_row") < 16) & (F.col("tile_col") < 16)),
        valid_only=True,
    ).filter(
        (F.col("row") < 1024) & (F.col("col") < 1024)
    ).select("row", "col", (F.col("value").cast("long") / 250).cast("long").alias("value"))


def run_sieve(spark):
    from georasters_spark.operators import algebra as AL

    spec, imgs = bench_grid(spark)
    pxq = pxq_1m(spark, imgs)
    # whole-query wall (count, as the bench does)
    timed(spark, "sieve: full (count)", lambda: AL.sieve(pxq, threshold=2).count())
    # phases
    t_all0 = time.time()
    L, _ = timed(spark, "sieve: polygonize_labels + checkpoint",
                 lambda: AL.polygonize_labels(pxq).localCheckpoint(eager=True))
    S, _ = timed(spark, "sieve: S region agg (collect-free count)",
                 lambda: L.groupBy("region_id").agg(
                     F.count(F.lit(1)).alias("sz"), F.first("value").alias("value"),
                     F.min("row").alias("a_r"),
                     F.expr("min_by(col, struct(row, col))").alias("a_c")))
    timed(spark, "sieve: S materialize", lambda: noop(S))
    timed(spark, "sieve: full again (warm)", lambda: AL.sieve(pxq, threshold=2).count())
    print(f"  total phases {time.time()-t_all0:.3f}s")
    imgs.unpersist()


def run_polygonize(spark):
    from georasters_spark.operators import algebra as AL

    spec, imgs = bench_grid(spark)
    pxq = pxq_1m(spark, imgs)
    timed(spark, "poly: decode+filter only (noop)", lambda: noop(pxq))
    timed(spark, "poly: labels (noop)",
          lambda: noop(AL.polygonize_labels(pxq, merge="distributed")))
    timed(spark, "poly: full count",
          lambda: AL.polygonize(pxq, merge="distributed").count())
    timed(spark, "poly: full count (warm)",
          lambda: AL.polygonize(pxq, merge="distributed").count())
    imgs.unpersist()


def run_xyz(spark):
    from georasters_spark.operators import xyz as XYZ

    spec, imgs = bench_grid(spark)
    tgt = XYZ._lattice(spark, 3, 256, (spec.x0, spec.y0), (spec.cellx, spec.celly))
    timed(spark, "xyz: lattice only (noop)", lambda: noop(tgt))
    base = XYZ.xyz_base_tiles(imgs, (spec.x0, spec.y0),
                              (spec.cellx, spec.celly), 3,
                              tile_shape=(spec.tile, spec.tile))
    timed(spark, "xyz: base tiles (noop)", lambda: noop(base))
    timed(spark, "xyz: full pyramid (agg)",
          lambda: XYZ.xyz_pyramid(
              imgs, (spec.x0, spec.y0), (spec.cellx, spec.celly),
              base_zoom=3, min_zoom=0, ndv=spec.ndv,
              tile_shape=(spec.tile, spec.tile),
          ).agg(F.count("*"), F.sum("n_valid")).collect())
    timed(spark, "xyz: full pyramid (agg, warm)",
          lambda: XYZ.xyz_pyramid(
              imgs, (spec.x0, spec.y0), (spec.cellx, spec.celly),
              base_zoom=3, min_zoom=0, ndv=spec.ndv,
              tile_shape=(spec.tile, spec.tile),
          ).agg(F.count("*"), F.sum("n_valid")).collect())
    imgs.unpersist()


def run_focal(spark):
    from georasters_spark.operators import focal as FO
    from georasters_spark.queries import _dem

    from georasters_spark.sources import synth

    spec = synth.BENCH
    dem9 = _dem(spark, spec.height, spec.width)
    timed(spark, "focal: dem gen only (noop)", lambda: noop(dem9))
    halo = FO._halo_tiled(dem9, 64, 2)
    timed(spark, "focal: halo replicate (noop)", lambda: noop(halo))
    timed(spark, "focal: full (agg)",
          lambda: FO.focal_sums(dem9, k=5)
          .agg(F.count("fmean"), F.sum("fsum")).collect())
    timed(spark, "focal: full (agg, warm)",
          lambda: FO.focal_sums(dem9, k=5)
          .agg(F.count("fmean"), F.sum("fsum")).collect())


def run_terrain(spark):
    from georasters_spark.operators import terrain as TR
    from georasters_spark.queries import _dem
    from georasters_spark.sources import synth

    spec = synth.BENCH
    dem9 = _dem(spark, spec.height, spec.width)
    timed(spark, "terrain: full (agg)",
          lambda: TR.slope_aspect_hillshade(
              dem9, cellsize=(spec.cellx, spec.celly), zfactor=0.001,
          ).agg(F.count("slope_deg"), F.sum("hillshade")).collect())
    timed(spark, "terrain: full (agg, warm)",
          lambda: TR.slope_aspect_hillshade(
              dem9, cellsize=(spec.cellx, spec.celly), zfactor=0.001,
          ).agg(F.count("slope_deg"), F.sum("hillshade")).collect())


def run_zonal_skew(spark):
    from georasters_spark.operators import spatial_join as SJ
    from georasters_spark.sources import synth

    spec, imgs = bench_grid(spark)
    kw = dict(origin=(spec.x0, spec.y0), cellsize=(spec.cellx, spec.celly))
    zskew = [zz for zz in synth.ZONES_EXTRA if zz.name == "skew_half_world"]
    timed(spark, "zskew: full", lambda: SJ.zonal_stats(imgs, zskew, **kw).collect())
    timed(spark, "zskew: warm", lambda: SJ.zonal_stats(imgs, zskew, **kw).collect())
    imgs.unpersist()


def run_jaccard(spark):
    from georasters_spark.operators import dedup as DD

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    timed(spark, "jaccard: full", lambda: DD.jaccard_pairs(docs, n=3, threshold=0.5).count())
    timed(spark, "jaccard: warm", lambda: DD.jaccard_pairs(docs, n=3, threshold=0.5).count())


def run_ivf(spark):
    from georasters_spark.operators import similarity as SM

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def q():
        cents = SM.kmeans_fit(emb, k=8, iters=3)
        SM.ivf_topk(emb, emb.filter(F.col("vec_id") < 20), cents, k=5,
                    nprobe=3).count()

    timed(spark, "ivf: full", q)
    timed(spark, "ivf: warm", q)


def main():
    from georasters_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="bench_extra", cores=cpus,
                      shuffle_partitions=max(cpus, 8))
    # same warmup as bench.py so phase numbers aren't worker-fork noise
    from georasters_spark.sources import synth
    from georasters_spark.operators import pixels as PX

    warm = synth.build_images(spark, synth.T1, fmt="raw16").persist()
    warm.count()
    PX.pixel_table(warm, valid_only=True).agg(F.count("value")).collect()
    warm.unpersist()

    names = sys.argv[1:] or ["sieve"]
    fns = {"sieve": run_sieve, "polygonize": run_polygonize, "xyz": run_xyz,
           "focal": run_focal, "terrain": run_terrain,
           "zonal_skew": run_zonal_skew, "jaccard": run_jaccard,
           "ivf": run_ivf}
    for n in names:
        print(f"== {n} ==", flush=True)
        fns[n](spark)
    spark.stop()


if __name__ == "__main__":
    main()
