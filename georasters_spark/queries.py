"""Query registry: every gated operator as (spark builder, DuckDB oracle).

This is the driver-facing correctness surface (__spark_entry__.queries /
oracle_sql). Raster queries run on the deterministic t1 synthetic grid
(fixed size regardless of sf — the formulas in sources/synth.py are
SQL-expressible, so DuckDB recomputes the same pixels via range() while
Spark goes through the real tile-codec path). Text/dedup/similarity
queries read the driver's parquet tables from sf_dir.

Column-naming rule: every computed column is aliased identically in the
Spark plan and the oracle SQL (driver hash-compares values by sorted
column name). All doubles that pass through aggregation are rounded to
6 dp on BOTH sides; integer aggregates stay exact BIGINTs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .functions import cells as C
from .functions import grid as G
from .operators import pixels as PX
from .operators import spatial_join as SJ
from .sources import synth
from .sources.synth import GridSpec

SPEC = synth.T1            # g42: 540x270, seed 42
SPECB = synth.T1B          # g43: algebra partner, same grid
# g44: overlapping mosaic partner — same cell lattice, origin shifted by
# exactly (60 rows, 120 cols) so union joins on global (row, col).
SPECD = GridSpec(grid_id="g44", seed=44, x0=-100.0, y0=50.0)
D_OFF_ROW, D_OFF_COL = 60, 120

_img_cache: dict = {}


# bump the version suffix whenever sources/synth.py formulas change —
# stale cached tables would otherwise diverge from the SQL oracles
TABLES_ROOT = "/tmp/georasters_tables_v2"


def images_for(spark: SparkSession, spec: GridSpec, fmt: str = "raw16") -> DataFrame:
    """The images table, served from the Iceberg-lite catalog: built
    once (deterministic) and appended as a snapshot, then read back as
    a REAL parquet scan — so tile-pruning predicates push down to the
    file source like they would against an Iceberg table."""
    import os

    from .sources.catalog import SnapshotTable

    key = (spark.sparkContext.applicationId, spec.grid_id, fmt)
    if key not in _img_cache:
        root = f"{TABLES_ROOT}/{spec.grid_id}_{fmt}"
        tbl = SnapshotTable(root)
        if tbl.current_version() == 0:
            tbl.append(
                synth.build_images(spark, spec, fmt),
                props={"grid_id": spec.grid_id, "fmt": fmt, "crs": spec.crs,
                       "cell_res": spec.cell_res},
            )
        df = tbl.scan(spark).cache()
        df.count()
        _img_cache[key] = df
    return _img_cache[key]


def _px(spark, spec, valid_only=True):
    return PX.pixel_table(
        images_for(spark, spec),
        valid_only=valid_only,
        origin=(spec.x0, spec.y0),
        cellsize=(spec.cellx, spec.celly),
    )


# ---------------------------------------------------------------------------
# q: pixel_decode — the decode/explode path itself (tile assignment gate)
# ---------------------------------------------------------------------------

def q_pixel_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    px = _px(spark, SPEC)
    return px.select(
        "image_id",
        "row",
        "col",
        F.col("value").cast("long").alias("value"),
        "x",
        "y",
    )


def sql_pixel_decode() -> str:
    return f"""WITH {synth.pixel_sql(SPEC)}
SELECT printf('{SPEC.grid_id}_%04d_%04d', CAST(row // {SPEC.tile} AS INT), CAST(col // {SPEC.tile} AS INT)) AS image_id,
       row, col, value, x, y
FROM px"""


# ---------------------------------------------------------------------------
# q: tile_cells — hierarchical cell-index assignment per tile (north rule)
# integer-exact path: ix = ((2*tc+1)*T*2^res) DIV (2*W)
# ---------------------------------------------------------------------------

def _ixiy_exprs(spec: GridSpec, dialect: str):
    idiv = "//" if dialect == "duckdb" else " DIV "
    n = 1 << spec.cell_res
    ix = f"LEAST(((2*tile_col+1)*{spec.tile}*{n}) {idiv} (2*{spec.width}), {n - 1})"
    iy = f"LEAST(((2*tile_row+1)*{spec.tile}*{n}) {idiv} (2*{spec.height}), {n - 1})"
    return ix, iy


def q_tile_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = SPEC
    imgs = images_for(spark, spec)
    ix, iy = _ixiy_exprs(spec, "spark")
    cell = C.morton_sql(ix, iy, spec.cell_res, dialect="spark")
    parent = C.morton_sql(f"({ix}) DIV 2", f"({iy}) DIV 2", spec.cell_res - 1, dialect="spark")
    return imgs.selectExpr(
        "image_id",
        f"CAST({ix} AS BIGINT) AS ix",
        f"CAST({iy} AS BIGINT) AS iy",
        f"CAST({cell} AS BIGINT) AS cell_id",
        f"CAST({parent} AS BIGINT) AS parent_id",
    )


def sql_tile_cells() -> str:
    spec = SPEC
    ix, iy = _ixiy_exprs(spec, "duckdb")
    cell = C.morton_sql(ix, iy, spec.cell_res, dialect="duckdb")
    parent = C.morton_sql(f"({ix}) // 2", f"({iy}) // 2", spec.cell_res - 1, dialect="duckdb")
    return f"""WITH {synth.tile_sql(spec)}
SELECT image_id,
       CAST({ix} AS BIGINT) AS ix, CAST({iy} AS BIGINT) AS iy,
       CAST({cell} AS BIGINT) AS cell_id, CAST({parent} AS BIGINT) AS parent_id
FROM tiles"""


# ---------------------------------------------------------------------------
# q: zonal_stats — PIP broadcast join + zone aggregate (flagship operator)
# ---------------------------------------------------------------------------

def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused zonal base moments + exact zmedian/zmajority/zp25/zp90
    (the full rasterstats built-in stat-name set incl. percentile_XX,
    georasters.py:908-947)."""
    spec = SPEC
    return SJ.zonal_stats_extended(
        images_for(spark, spec),
        synth.ZONES_T1,
        origin=(spec.x0, spec.y0),
        cellsize=(spec.cellx, spec.celly),
        percentiles=[25, 90],
    )


def sql_zonal_stats() -> str:
    spec = SPEC
    preds = [
        f"SELECT {z.zone_id} AS zone_id, px.value FROM px WHERE "
        + synth.zone_sql_predicate(z, "px.xc", "px.yc")
        for z in synth.ZONES_T1
    ]
    return f"""WITH {synth.pixel_sql(spec)}, hits AS ({' UNION ALL '.join(preds)}),
base AS (
  SELECT zone_id,
       CAST(COUNT(value) AS BIGINT) AS zcount,
       CAST(SUM(value) AS BIGINT) AS zsum,
       CAST(MIN(value) AS BIGINT) AS zmin,
       CAST(MAX(value) AS BIGINT) AS zmax,
       ROUND(CAST(SUM(value) AS DOUBLE)/COUNT(value), 6) AS zmean,
       ROUND(SQRT(CAST(SUM(value*value) AS DOUBLE)/COUNT(value)
             - (CAST(SUM(value) AS DOUBLE)/COUNT(value))*(CAST(SUM(value) AS DOUBLE)/COUNT(value))), 6) AS zstd
  FROM hits GROUP BY zone_id),
med AS (SELECT zone_id, CAST(MEDIAN(value) AS DOUBLE) AS zmedian FROM hits GROUP BY zone_id),
vc AS (SELECT zone_id, value, COUNT(*) AS cnt FROM hits GROUP BY 1, 2),
vc2 AS (SELECT zone_id, value, cnt,
               SUM(cnt) OVER (PARTITION BY zone_id ORDER BY value) AS cum,
               SUM(cnt) OVER (PARTITION BY zone_id) AS tot
        FROM vc),
pct AS (SELECT zone_id,
  MIN(CASE WHEN cum >= CAST(FLOOR((tot - 1) * 25.0 / 100.0) AS BIGINT) + 1 THEN value END)
    + MAX((tot - 1) * 25.0 / 100.0 - CAST(FLOOR((tot - 1) * 25.0 / 100.0) AS BIGINT))
      * (MIN(CASE WHEN cum >= LEAST(CAST(FLOOR((tot - 1) * 25.0 / 100.0) AS BIGINT) + 2, tot) THEN value END)
         - MIN(CASE WHEN cum >= CAST(FLOOR((tot - 1) * 25.0 / 100.0) AS BIGINT) + 1 THEN value END)) AS zp25,
  MIN(CASE WHEN cum >= CAST(FLOOR((tot - 1) * 90.0 / 100.0) AS BIGINT) + 1 THEN value END)
    + MAX((tot - 1) * 90.0 / 100.0 - CAST(FLOOR((tot - 1) * 90.0 / 100.0) AS BIGINT))
      * (MIN(CASE WHEN cum >= LEAST(CAST(FLOOR((tot - 1) * 90.0 / 100.0) AS BIGINT) + 2, tot) THEN value END)
         - MIN(CASE WHEN cum >= CAST(FLOOR((tot - 1) * 90.0 / 100.0) AS BIGINT) + 1 THEN value END)) AS zp90
  FROM vc2 GROUP BY zone_id),
maj AS (SELECT zone_id, CAST(value AS BIGINT) AS zmajority FROM vc
        QUALIFY ROW_NUMBER() OVER (PARTITION BY zone_id ORDER BY cnt DESC, value ASC) = 1),
mnr AS (SELECT zone_id, CAST(value AS BIGINT) AS zminority FROM vc
        QUALIFY ROW_NUMBER() OVER (PARTITION BY zone_id ORDER BY cnt ASC, value ASC) = 1),
unq AS (SELECT zone_id, CAST(COUNT(*) AS BIGINT) AS zunique FROM vc GROUP BY zone_id)
SELECT base.*, med.zmedian, pct.zp25, pct.zp90, maj.zmajority,
       mnr.zminority, unq.zunique, CAST(base.zmax - base.zmin AS BIGINT) AS zrange
FROM base JOIN med USING (zone_id) JOIN pct USING (zone_id)
     JOIN maj USING (zone_id) JOIN mnr USING (zone_id) JOIN unq USING (zone_id)"""


# ---------------------------------------------------------------------------
# q: global_stats — whole-raster masked aggregates (georasters.py:715-868)
# ---------------------------------------------------------------------------

def q_global_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = F.col("value")
    var = F.sum(v * v) / F.count(v) - (F.sum(v) / F.count(v)) * (F.sum(v) / F.count(v))
    return _px(spark, SPEC).agg(
        F.count(v).cast("long").alias("vcount"),
        F.sum(v).cast("long").alias("vsum"),
        F.min(v).cast("long").alias("vmin"),
        F.max(v).cast("long").alias("vmax"),
        F.round(F.sum(v) / F.count(v), 6).alias("vmean"),
        F.round(F.sqrt(var), 6).alias("vstd"),
        # var (ddof=0, np.ma.var): same exact-int moments as std
        F.round(var, 6).alias("vvar"),
        F.median(v).cast("double").alias("vmedian"),
        # prod (georasters.py:715-868 family; SURVEY §2.5 maps it to
        # exp(sum(log)) with sign handling): values are >= 0 here, so
        # sign tracking reduces to the zero count; the magnitude ships
        # as log10 (the raw product of ~1e5 values overflows any float)
        F.sum((v == 0).cast("long")).cast("long").alias("vprod_zeros"),
        F.round(F.sum(F.when(v > 0, F.log10(v))), 4).alias("vprod_log10"),
        F.when(F.sum((v == 0).cast("long")) > 0, F.lit(0.0)).alias("vprod"),
    )


def sql_global_stats() -> str:
    return f"""WITH {synth.pixel_sql(SPEC)}
SELECT CAST(COUNT(value) AS BIGINT) AS vcount,
       CAST(SUM(value) AS BIGINT) AS vsum,
       CAST(MIN(value) AS BIGINT) AS vmin,
       CAST(MAX(value) AS BIGINT) AS vmax,
       ROUND(CAST(SUM(value) AS DOUBLE)/COUNT(value), 6) AS vmean,
       ROUND(SQRT(CAST(SUM(value*value) AS DOUBLE)/COUNT(value)
             - (CAST(SUM(value) AS DOUBLE)/COUNT(value))*(CAST(SUM(value) AS DOUBLE)/COUNT(value))), 6) AS vstd,
       ROUND(CAST(SUM(value*value) AS DOUBLE)/COUNT(value)
             - (CAST(SUM(value) AS DOUBLE)/COUNT(value))*(CAST(SUM(value) AS DOUBLE)/COUNT(value)), 6) AS vvar,
       CAST(MEDIAN(value) AS DOUBLE) AS vmedian,
       CAST(SUM(CASE WHEN value = 0 THEN 1 ELSE 0 END) AS BIGINT) AS vprod_zeros,
       ROUND(SUM(CASE WHEN value > 0 THEN log10(CAST(value AS DOUBLE)) END), 4) AS vprod_log10,
       CASE WHEN SUM(CASE WHEN value = 0 THEN 1 ELSE 0 END) > 0 THEN 0.0 END AS vprod
FROM px"""


# ---------------------------------------------------------------------------
# q: gini — reference formula (georasters.py:949-961) via window cumsum
# ---------------------------------------------------------------------------

def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.algebra import gini_agg

    px = _px(spark, SPEC).select(F.col("value").cast("long").alias("value"))
    return gini_agg(px)


def sql_gini() -> str:
    return f"""WITH {synth.pixel_sql(SPEC)},
cum AS (SELECT value, SUM(value) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ycum FROM px)
SELECT CAST(COUNT(value) AS BIGINT) AS n,
       ROUND(CASE WHEN COUNT(value) <= 1 THEN 1.0
             ELSE 1.0 + 1.0/COUNT(value) - 2.0*(CAST(SUM(ycum) AS DOUBLE)/(CAST(SUM(value) AS DOUBLE)*COUNT(value))) END, 9) AS gini
FROM cum"""


# ---------------------------------------------------------------------------
# q: map_pixel — point-batch value lookup (georasters.py:990-1014)
# HALF_EVEN rounding gate: Spark bround == DuckDB round_even == np.round
# ---------------------------------------------------------------------------

def q_map_pixel(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = SPEC
    pts = synth.points_df(spark, 100)
    out = PX.lookup_points_fused(
        images_for(spark, spec),
        pts,
        origin=(spec.x0, spec.y0),
        cellsize=(spec.cellx, spec.celly),
        tile=spec.tile,
    ).withColumn("value", F.col("value").cast("long"))
    return out.select(
        "point_id",
        "prow",
        "pcol",
        "value",
        (
            (F.col("prow") >= 0)
            & (F.col("prow") < spec.height)
            & (F.col("pcol") >= 0)
            & (F.col("pcol") < spec.width)
        ).alias("in_coverage"),
    )


def sql_map_pixel() -> str:
    spec = SPEC
    return f"""WITH {synth.pixel_sql(spec)}, {synth.points_sql(100)},
loc AS (
  SELECT point_id,
         CAST(round_even((y - {spec.y0!r}) / {spec.celly!r}, 0) AS BIGINT) AS prow,
         CAST(round_even((x - {spec.x0!r}) / {spec.cellx!r}, 0) AS BIGINT) AS pcol
  FROM pts)
SELECT loc.point_id, loc.prow, loc.pcol, px.value,
       (loc.prow >= 0 AND loc.prow < {spec.height} AND loc.pcol >= 0 AND loc.pcol < {spec.width}) AS in_coverage
FROM loc LEFT JOIN px ON px.row = loc.prow AND px.col = loc.pcol"""


# ---------------------------------------------------------------------------
# q: block_aggregate — block_reduce sum, ANY-masked ⇒ NULL (SURVEY §1.4.4)
# ---------------------------------------------------------------------------

def q_block_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = SPEC
    px = _px(spark, SPEC, valid_only=False).filter(
        (F.col("row") < spec.height) & (F.col("col") < spec.width)
    )
    v = (
        F.when(F.col("value") == float(spec.ndv), F.lit(None))
        .otherwise(F.col("value"))
        .cast("long")
    )
    blocks = px.select(
        (F.col("row") / 3).cast("long").alias("brow"),
        (F.col("col") / 3).cast("long").alias("bcol"),
        v.alias("v"),
    )
    agg = blocks.groupBy("brow", "bcol").agg(
        F.expr("bool_or(v IS NULL)").alias("anymask"),
        F.sum("v").alias("s"),
        F.count(F.lit(1)).alias("npx"),
    )
    return agg.select(
        "brow",
        "bcol",
        # GeoRaster.aggregate rule (georasters.py:1061-1067): ANY masked
        # pixel masks the whole block
        F.when(F.col("anymask"), F.lit(None)).otherwise(F.col("s")).cast("long").alias("bsum"),
        # module-level aggregate() rule (georasters.py:153-176):
        # np.ma.sum skips masked cells; all-masked block -> NULL
        F.col("s").cast("long").alias("bsum_skipna"),
    )


def sql_block_aggregate() -> str:
    spec = SPEC
    return f"""WITH {synth.pixel_sql(spec, valid_only=False)}
SELECT CAST(row // 3 AS BIGINT) AS brow, CAST(col // 3 AS BIGINT) AS bcol,
       CAST(CASE WHEN BOOL_OR(masked) THEN NULL ELSE SUM(value) END AS BIGINT) AS bsum,
       CAST(SUM(CASE WHEN masked THEN NULL ELSE value END) AS BIGINT) AS bsum_skipna
FROM px GROUP BY 1, 2"""


# ---------------------------------------------------------------------------
# q: union_mosaic — later-wins mosaic (georasters.py:1493-1535, §1.4.2)
# ---------------------------------------------------------------------------

def q_union_mosaic(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("value"))
    d = _px(spark, SPECD).select(
        (F.col("row") + D_OFF_ROW).alias("row"),
        (F.col("col") + D_OFF_COL).alias("col"),
        F.col("value").cast("long").alias("value"),
    )
    tagged = a.withColumn("ordinal", F.lit(0)).unionByName(
        d.withColumn("ordinal", F.lit(1))
    )
    return tagged.groupBy("row", "col").agg(
        F.max_by("value", "ordinal").alias("value")
    )


def sql_union_mosaic() -> str:
    return f"""WITH {synth.pixel_sql(SPEC, alias='pxa')}, {synth.pixel_sql(SPECD, alias='pxd')},
tagged AS (
  SELECT row, col, value, 0 AS ordinal FROM pxa
  UNION ALL
  SELECT row + {D_OFF_ROW} AS row, col + {D_OFF_COL} AS col, value, 1 AS ordinal FROM pxd
)
SELECT row, col, CAST(arg_max(value, ordinal) AS BIGINT) AS value
FROM tagged GROUP BY row, col"""


# ---------------------------------------------------------------------------
# q: algebra_add — raster⊕raster elementwise (georasters.py:430-528):
# masked propagates (inner join of valid pixels on the shared lattice)
# ---------------------------------------------------------------------------

def q_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("va"))
    b = _px(spark, SPECB).select("row", "col", F.col("value").cast("long").alias("vb"))
    j = a.join(b, ["row", "col"])
    return j.select(
        "row",
        "col",
        (F.col("va") + F.col("vb")).alias("v_add"),
        (F.col("va") - F.col("vb")).alias("v_sub"),
        (F.col("va") * F.col("vb")).alias("v_mul"),
        F.round(F.pow(F.col("va").cast("double"), 2.0) - F.col("vb"), 6).alias("v_powsub"),
        # reference __floordiv__ truncates the true quotient
        # (georasters.py:494-513 — NOT floor); NULL on divide-by-zero
        F.when(F.col("vb") == 0, F.lit(None))
        .otherwise((F.col("va") / F.col("vb")).cast("long"))
        .alias("v_fdiv"),
        (F.col("va") < F.col("vb")).alias("v_lt"),
    )


def sql_algebra() -> str:
    return f"""WITH {synth.pixel_sql(SPEC, alias='pxa')}, {synth.pixel_sql(SPECB, alias='pxb')}
SELECT a.row, a.col,
       a.value + b.value AS v_add,
       a.value - b.value AS v_sub,
       a.value * b.value AS v_mul,
       ROUND(POW(CAST(a.value AS DOUBLE), 2.0) - b.value, 6) AS v_powsub,
       CASE WHEN b.value = 0 THEN NULL
            ELSE CAST(TRUNC(CAST(a.value AS DOUBLE) / b.value) AS BIGINT) END AS v_fdiv,
       a.value < b.value AS v_lt
FROM pxa a JOIN pxb b ON a.row = b.row AND a.col = b.col"""


# ---------------------------------------------------------------------------
# q: band_math — multi-band tiles end-to-end: two raw16 grids are fused
# into band-sequential 2-band tiles (pure byte concat), each band comes
# back via the JVM-substring band_select, decodes through the normal
# pixel path, and a normalized-difference (NDVI-shaped) ratio is
# computed per cell valid in BOTH bands.
# ---------------------------------------------------------------------------

def q_band_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import band_select

    spec = SPEC
    a = images_for(spark, SPEC).select(
        "tile_row", "tile_col", F.col("bytes").alias("ba"),
        "w", "h", "fmt", "ndv", "image_id",
    )
    b = images_for(spark, SPECB).select(
        "tile_row", "tile_col", F.col("bytes").alias("bb"),
    )
    # band-sequential layout: 2-band tile = concat of the band planes
    mb = a.join(b, ["tile_row", "tile_col"]).select(
        "image_id", F.concat(F.col("ba"), F.col("bb")).alias("bytes"),
        "w", "h", "fmt", "ndv", "tile_row", "tile_col", F.lit(2).alias("n_bands"),
    )

    def band_px(band):
        imgs = band_select(mb, band).select(
            "image_id", "bytes", "fmt", "w", "h", "ndv", "tile_row", "tile_col")
        return PX.pixel_table(imgs, valid_only=True, with_coords=False)

    pa = band_px(1).select("row", "col", F.col("value").cast("long").alias("va"))
    pb = band_px(2).select("row", "col", F.col("value").cast("long").alias("vb"))
    j = pa.join(pb, ["row", "col"])
    return j.select(
        "row", "col", "va", "vb",
        F.when(F.col("va") + F.col("vb") == 0, F.lit(None)).otherwise(
            F.round((F.col("vb") - F.col("va")) / (F.col("vb") + F.col("va")), 6)
        ).alias("nd_ratio"),
    )


def sql_band_math() -> str:
    return f"""WITH {synth.pixel_sql(SPEC, alias='pxa')}, {synth.pixel_sql(SPECB, alias='pxb')}
SELECT a.row, a.col, a.value AS va, b.value AS vb,
       CASE WHEN a.value + b.value = 0 THEN NULL
            ELSE ROUND(CAST(b.value - a.value AS DOUBLE) / (b.value + a.value), 6) END AS nd_ratio
FROM pxa a JOIN pxb b ON b.row = a.row AND b.col = a.col"""


# ---------------------------------------------------------------------------
# q: ufunc_math — the free-numpy-ufunc surface (README.md:70-76:
# np.sin(data.raster) etc.) as built-in JVM Column math, oracle-checked
# ---------------------------------------------------------------------------

def q_ufunc_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    px = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("value"))
    v = F.col("value")
    return px.select(
        "row", "col",
        F.round(F.sin(v), 6).alias("f_sin"),
        F.round(F.cos(v), 6).alias("f_cos"),
        F.round(F.exp(v / F.lit(1000.0)), 6).alias("f_exp"),
        F.round(F.log(v + F.lit(1.0)), 6).alias("f_log"),
        F.round(F.sqrt(v.cast("double")), 6).alias("f_sqrt"),
        F.abs(v - 1000).cast("long").alias("f_abs"),
        (-v).cast("long").alias("f_neg"),
    )


def sql_ufunc_math() -> str:
    return f"""WITH {synth.pixel_sql(SPEC)}
SELECT row, col,
       ROUND(sin(value), 6) AS f_sin,
       ROUND(cos(value), 6) AS f_cos,
       ROUND(exp(value / 1000.0), 6) AS f_exp,
       ROUND(ln(value + 1.0), 6) AS f_log,
       ROUND(sqrt(CAST(value AS DOUBLE)), 6) AS f_sqrt,
       CAST(ABS(value - 1000) AS BIGINT) AS f_abs,
       CAST(-value AS BIGINT) AS f_neg
FROM px"""


# ---------------------------------------------------------------------------
# q: extract_window — radius window around a point (georasters.py:1016-1030)
# ---------------------------------------------------------------------------

_EXTRACT_PT = (12.37, -7.93)
_EXTRACT_RAD = 15


def q_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = SPEC
    xq, yq = _EXTRACT_PT
    px = _px(spark, SPEC)
    r0 = G.row_of_y(F.lit(yq), spec.y0, spec.celly)
    c0 = G.col_of_x(F.lit(xq), spec.x0, spec.cellx)
    return px.filter(G.extract_predicate(F.col("row"), F.col("col"), r0, c0, _EXTRACT_RAD, _EXTRACT_RAD)).select(
        "row", "col", F.col("value").cast("long").alias("value")
    )


def sql_extract() -> str:
    spec = SPEC
    xq, yq = _EXTRACT_PT
    return f"""WITH {synth.pixel_sql(spec)}
SELECT row, col, value FROM px
WHERE abs(row - CAST(round_even(({yq!r} - {spec.y0!r}) / {spec.celly!r}, 0) AS BIGINT)) <= {_EXTRACT_RAD}
  AND abs(col - CAST(round_even(({xq!r} - {spec.x0!r}) / {spec.cellx!r}, 0) AS BIGINT)) <= {_EXTRACT_RAD}"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# q: knn_tiles — ring-expansion kNN over the cell index (north rule)
# ---------------------------------------------------------------------------

_KNN_K = 5
_KNN_NPTS = 30


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import knn as KN

    spec = SPEC
    return KN.knn_tiles(
        images_for(spark, spec),
        synth.points_df(spark, _KNN_NPTS),
        res=spec.cell_res,
        k=_KNN_K,
    )


def sql_knn() -> str:
    spec = SPEC
    return f"""WITH {synth.tile_sql(spec)}, {synth.points_sql(_KNN_NPTS)},
scored AS (
  SELECT p.point_id, t.image_id,
         ROUND((t.center_x - p.x)*(t.center_x - p.x) + (t.center_y - p.y)*(t.center_y - p.y), 6) AS dist2
  FROM tiles t CROSS JOIN pts p
),
ranked AS (
  SELECT point_id, image_id, dist2,
         ROW_NUMBER() OVER (PARTITION BY point_id ORDER BY dist2, image_id) AS knn_rank
  FROM scored
)
SELECT point_id, image_id, dist2, knn_rank
FROM ranked WHERE knn_rank <= {_KNN_K}"""


# ---------------------------------------------------------------------------
# q: autocorr_global — Moran/Geary/Getis/join-counts via neighbor self-join
# q: focal_stats    — per-cell queen-neighborhood aggregates (G*-local base)
# ---------------------------------------------------------------------------

_BIN_T = 999


def q_autocorr_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import autocorr as AC

    px = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("value"))
    return AC.global_autocorr(px, bin_threshold=_BIN_T)


def sql_autocorr_global() -> str:
    from .operators import autocorr as AC

    return AC.global_autocorr_sql(synth.pixel_sql(SPEC), bin_threshold=_BIN_T)


def q_autocorr_rowstd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import autocorr as AC

    px = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("value"))
    return AC.global_autocorr_rowstd(px)


def sql_autocorr_rowstd() -> str:
    from .operators import autocorr as AC

    return AC.global_autocorr_rowstd_sql(synth.pixel_sql(SPEC))


def q_gstar_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import autocorr as AC

    px = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("value"))
    return AC.gstar_local(px)


def sql_gstar_local() -> str:
    from .operators import autocorr as AC

    return AC.gstar_local_sql(synth.pixel_sql(SPEC))


def q_g_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain Getis-Ord G_i (esda G_Local star=False — the reference
    default; georasters.py:1343-1378): self EXCLUDED from the weights,
    leave-one-out moments in the z-form."""
    from .operators import autocorr as AC

    px = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("value"))
    return AC.g_local(px)


def sql_g_local() -> str:
    from .operators import autocorr as AC

    return AC.g_local_sql(synth.pixel_sql(SPEC))


def q_local_moran_rowstd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISA under the esda-default row-standardized weights
    (georasters.py:1310-1341): exact 840-scaled decimal numerators,
    quadrants unchanged from the binary plan (scale-invariant)."""
    from .operators import autocorr as AC

    px = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("value"))
    return AC.local_moran_rowstd(px)


def sql_local_moran_rowstd() -> str:
    from .operators import autocorr as AC

    return AC.local_moran_rowstd_sql(synth.pixel_sql(SPEC))


def q_focal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import autocorr as AC

    px = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("value"))
    return AC.focal_stats(px, include_self=True)


def sql_focal_stats() -> str:
    offsets = ", ".join(f"({dr}, {dc})" for dr, dc in
                        [(-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1)])
    return f"""WITH {synth.pixel_sql(SPEC)},
offsets(dr, dc) AS (VALUES {offsets}),
cand AS (
  SELECT a.row, a.col, a.row + o.dr AS r2, a.col + o.dc AS c2
  FROM px a CROSS JOIN offsets o),
nb AS (
  SELECT cand.row, cand.col, b.value AS vb
  FROM cand JOIN px b ON b.row = cand.r2 AND b.col = cand.c2),
agg AS (
  SELECT row, col, CAST(SUM(vb) AS BIGINT) AS nsum_,
         CAST(SUM(vb * vb) AS BIGINT) AS nsum2_,
         CAST(COUNT(*) AS BIGINT) AS ncnt_
  FROM nb GROUP BY row, col)
SELECT px.row, px.col, px.value,
       CAST(COALESCE(agg.nsum_, 0) + px.value AS BIGINT) AS nsum,
       CAST(COALESCE(agg.nsum2_, 0) + px.value * px.value AS BIGINT) AS nsum2,
       CAST(COALESCE(agg.ncnt_, 0) + 1 AS BIGINT) AS ncnt
FROM px LEFT JOIN agg ON agg.row = px.row AND agg.col = px.col"""


# ---------------------------------------------------------------------------
# q: argmax — flat C-order index of extremes, first-occurrence rule
# (np.argmax/argmin semantics, georasters.py:793-819)
# ---------------------------------------------------------------------------

def q_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = SPEC
    px = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("value"))
    # single scan, single aggregate: first-occurrence extreme = min_by on
    # struct(±value, flat_idx) — struct ordering is lexicographic, so the
    # tie-break on the C-order flat index is exact (np.argmax/argmin rule)
    base = px.withColumn("flat_idx", F.col("row") * spec.width + F.col("col"))
    ext = base.agg(
        F.expr("min_by(struct(row, col, value, flat_idx), struct(-value, flat_idx))").alias("mx"),
        F.expr("min_by(struct(row, col, value, flat_idx), struct(value, flat_idx))").alias("mn"),
    )
    return ext.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("max").alias("which"), F.col("mx.row").alias("row"),
                    F.col("mx.col").alias("col"), F.col("mx.value").alias("value"),
                    F.col("mx.flat_idx").alias("flat_idx"),
                ),
                F.struct(
                    F.lit("min").alias("which"), F.col("mn.row").alias("row"),
                    F.col("mn.col").alias("col"), F.col("mn.value").alias("value"),
                    F.col("mn.flat_idx").alias("flat_idx"),
                ),
            )
        ).alias("s")
    ).select("s.*")


def sql_argmax() -> str:
    spec = SPEC
    return f"""WITH {synth.pixel_sql(spec)},
mx AS (SELECT 'max' AS which, row, col, value, row * {spec.width} + col AS flat_idx
       FROM px WHERE value = (SELECT MAX(value) FROM px) ORDER BY flat_idx LIMIT 1),
mn AS (SELECT 'min' AS which, row, col, value, row * {spec.width} + col AS flat_idx
       FROM px WHERE value = (SELECT MIN(value) FROM px) ORDER BY flat_idx LIMIT 1)
SELECT * FROM mx UNION ALL SELECT * FROM mn"""


# ---------------------------------------------------------------------------
# q: resize — nearest-neighbor resample via integer gather
# (georasters.py:1095-1139; order-0 nearest)
# ---------------------------------------------------------------------------

_RS_TH, _RS_TW = 90, 180


def q_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # delegates to the shared operator so the gate exercises the SAME
    # center-rule code path as resize_grid(order=0) (review r5: two
    # inline copies of the ((2t+1)h) DIV (2th) formula drifted apart)
    from .operators import reproject as RP

    spec = SPEC
    px = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("value"))
    return RP.resize_grid(px, (spec.height, spec.width), (_RS_TH, _RS_TW),
                          order=0)


def sql_resize() -> str:
    spec = SPEC
    return f"""WITH {synth.pixel_sql(spec)},
target AS (
  SELECT CAST(tr.range AS BIGINT) AS trow, CAST(tc.range AS BIGINT) AS tcol,
         ((2 * tr.range + 1) * {spec.height}) // (2 * {_RS_TH}) AS row,
         ((2 * tc.range + 1) * {spec.width}) // (2 * {_RS_TW}) AS col
  FROM range({_RS_TH}) tr CROSS JOIN range({_RS_TW}) tc)
SELECT t.trow, t.tcol, px.value
FROM target t LEFT JOIN px ON px.row = t.row AND px.col = t.col"""


# --- r5: resize with interpolation orders > 0 (reference passes
# order= through to skimage, georasters.py:1095-1113; until r5 only
# the order-0 nearest default was gated).

_RSB = {"out": (180, 700)}   # rows downsample 1.5x, cols upsample ~1.3x
_RSC = {"out": (100, 240)}


def _resize_interp_sql(out_shape: tuple, kernel: str | None) -> str:
    """DuckDB oracle for resize_grid order 1/3: identity-grid
    fractional index u = (t + 0.5)·scale − 0.5 (same quantization),
    then the shared corner-weight gather (kernel=None -> bilinear)."""
    from .operators import reproject as RP
    from .operators.reproject import dlit

    spec = SPEC
    th, tw = out_shape
    sr = spec.height / th
    sc = spec.width / tw
    u = f"ROUND((tr.range + 0.5) * {dlit(sr)} - 0.5, {RP._Q})"
    v = f"ROUND((tc.range + 0.5) * {dlit(sc)} - 0.5, {RP._Q})"
    if kernel is None:
        values = "(0, 0), (0, 1), (1, 0), (1, 1)"
        w_row = "CASE WHEN o.a = 1 THEN f.du ELSE 1.0 - f.du END"
        w_col = "CASE WHEN o.b = 1 THEN f.dv ELSE 1.0 - f.dv END"
        guard = "SUM(corners.wgt) > 0"
    else:
        offs = RP.kernel_offsets(kernel)
        values = ", ".join(f"({a}, {b})" for a in offs for b in offs)
        w_row = RP.kernel_weight_sql(kernel, "ABS(o.a - f.du)")
        w_col = RP.kernel_weight_sql(kernel, "ABS(o.b - f.dv)")
        guard = "ABS(SUM(corners.wgt)) >= 0.05"
    return f"""WITH {synth.pixel_sql(spec)},
tgt AS (
  SELECT CAST(tr.range AS BIGINT) AS trow, CAST(tc.range AS BIGINT) AS tcol,
         {u} AS u, {v} AS v
  FROM range({th}) tr CROSS JOIN range({tw}) tc),
f AS (
  SELECT trow, tcol,
         CAST(FLOOR(u) AS BIGINT) AS r0, u - FLOOR(u) AS du,
         CAST(FLOOR(v) AS BIGINT) AS c0, v - FLOOR(v) AS dv
  FROM tgt),
corners AS (
  SELECT f.trow, f.tcol, f.r0 + o.a AS row, f.c0 + o.b AS col,
         ({w_row}) * ({w_col}) AS wgt
  FROM f CROSS JOIN (VALUES {values}) o(a, b)),
agg AS (
  SELECT corners.trow, corners.tcol,
         CASE WHEN {guard}
              THEN ROUND(SUM(corners.wgt * px.value) / SUM(corners.wgt), 6) END AS value,
         CAST(COUNT(*) AS BIGINT) AS n_contrib
  FROM corners JOIN px ON px.row = corners.row AND px.col = corners.col
  GROUP BY 1, 2)
SELECT tgt.trow, tgt.tcol, agg.value, agg.n_contrib
FROM tgt LEFT JOIN agg ON agg.trow = tgt.trow AND agg.tcol = tgt.tcol"""


def q_resize_bilinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import reproject as RP

    spec = SPEC
    px = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("value"))
    return RP.resize_grid(px, (spec.height, spec.width), _RSB["out"], order=1)


def sql_resize_bilinear() -> str:
    return _resize_interp_sql(_RSB["out"], None)


def q_resize_cubic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDAL-'cubic' resize: Catmull-Rom kernel with nodata-aware
    renormalization (prefilter=False — the skimage-parity interpolating
    spline is the order=3 default, gated by resize_cubic_spline)."""
    from .operators import reproject as RP

    spec = SPEC
    px = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("value"))
    return RP.resize_grid(px, (spec.height, spec.width), _RSC["out"], order=3,
                          prefilter=False)


def sql_resize_cubic() -> str:
    return _resize_interp_sql(_RSC["out"], "catmull")


# ---------------------------------------------------------------------------
# q: resize_cubic_spline — skimage-parity order-3 (Unser IIR prefilter +
# B-spline basis evaluation with mirror edges), round 6
# ---------------------------------------------------------------------------

SPECF = GridSpec(grid_id="g46", width=36, height=24, seed=46)
_RSCS_OUT = (40, 60)


def q_resize_cubic_spline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """resize(order=3) at skimage parity (the reference delegates to
    skimage.transform.resize, georasters.py:1095-1139): the
    distributed Unser recursive prefilter (two grouped-map line
    stages, exact geometric-sum mirror init) turns samples into
    interpolating B-spline coefficients, then the basis-weight gather
    evaluates with MIRROR edge indexing and no renormalization.
    Masked cells are zero-filled first (the IIR has no nodata
    semantics; neither does skimage).  EXACT oracle: the prefilter is
    linear, so DuckDB re-derives it from per-line basis-response
    literal weights (spline_filter_matrix) and mirrors the basis
    evaluation term for term; doubles rounded to 6 dp both sides, then
    + 0.0 on both sides so a -0.0 residue compares as +0.0."""
    from .operators import reproject as RP

    spec = SPECF
    px = _px(spark, spec, valid_only=False).filter(
        (F.col("row") < spec.height) & (F.col("col") < spec.width)
    ).select(
        "row", "col",
        F.when(F.col("value") == F.lit(spec.ndv), F.lit(0.0))
        .otherwise(F.col("value").cast("double")).alias("value"))
    return RP.resize_grid(px, (spec.height, spec.width), _RSCS_OUT, order=3)


def sql_resize_cubic_spline() -> str:
    from .operators import reproject as RP
    from .operators.reproject import dlit

    spec = SPECF
    h, w = spec.height, spec.width
    th, tw = _RSCS_OUT
    my = RP.spline_filter_matrix(h)
    mx = RP.spline_filter_matrix(w)
    wy = ", ".join(f"({o}, {i}, {dlit(my[o, i])})"
                   for o in range(h) for i in range(h))
    wx = ", ".join(f"({o}, {i}, {dlit(mx[o, i])})"
                   for o in range(w) for i in range(w))
    offs = RP.kernel_offsets("bspline")
    values = ", ".join(f"({a}, {b})" for a in offs for b in offs)
    w_row = RP.kernel_weight_sql("bspline", "ABS(o.a - f.du)")
    w_col = RP.kernel_weight_sql("bspline", "ABS(o.b - f.dv)")
    ph, pw = 2 * h - 2, 2 * w - 2

    def mirror(expr: str, p: int, n: int) -> str:
        m = f"((({expr}) % {p} + {p}) % {p})"
        return f"CASE WHEN {m} < {n} THEN {m} ELSE {p} - {m} END"

    return f"""WITH {synth.pixel_sql(spec, valid_only=False)},
pxd AS (SELECT row, col,
               CASE WHEN masked THEN 0.0 ELSE CAST(value AS DOUBLE) END AS value
        FROM px),
wy(o, i, w) AS (VALUES {wy}),
wx(o, i, w) AS (VALUES {wx}),
coef AS (
  SELECT wy.o AS row, wx.o AS col, SUM(wy.w * pxd.value * wx.w) AS value
  FROM pxd JOIN wy ON wy.i = pxd.row JOIN wx ON wx.i = pxd.col
  GROUP BY 1, 2),
tgt AS (
  SELECT CAST(tr.range AS BIGINT) AS trow, CAST(tc.range AS BIGINT) AS tcol,
         ROUND((tr.range + 0.5) * {dlit(h / th)} - 0.5, {RP._Q}) AS u,
         ROUND((tc.range + 0.5) * {dlit(w / tw)} - 0.5, {RP._Q}) AS v
  FROM range({th}) tr CROSS JOIN range({tw}) tc),
f AS (
  SELECT trow, tcol, CAST(FLOOR(u) AS BIGINT) AS r0, u - FLOOR(u) AS du,
         CAST(FLOOR(v) AS BIGINT) AS c0, v - FLOOR(v) AS dv
  FROM tgt),
corners AS (
  SELECT f.trow, f.tcol,
         {mirror('f.r0 + o.a', ph, h)} AS row,
         {mirror('f.c0 + o.b', pw, w)} AS col,
         ({w_row}) * ({w_col}) AS wgt
  FROM f CROSS JOIN (VALUES {values}) o(a, b))
SELECT corners.trow, corners.tcol,
       ROUND(SUM(corners.wgt * coef.value), 6) + 0.0 AS value,
       CAST(COUNT(*) AS BIGINT) AS n_contrib
FROM corners JOIN coef USING (row, col)
GROUP BY 1, 2"""


# ---------------------------------------------------------------------------
# q: align — fine grid block-meaned onto a coarse grid, crop to overlap
# (georasters.py:1616-1681)
# ---------------------------------------------------------------------------

SPECE = GridSpec(grid_id="g45", width=180, height=90, seed=45)
_ALIGN_FACTOR = 3  # 540/180


def q_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import algebra as AL

    fine = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("value"))
    coarse = _px(spark, SPECE).select("row", "col", F.col("value").cast("long").alias("value"))
    return AL.align_grids(fine, coarse, _ALIGN_FACTOR)


def sql_align() -> str:
    f = _ALIGN_FACTOR
    return f"""WITH {synth.pixel_sql(SPEC, alias='pxf')}, {synth.pixel_sql(SPECE, alias='pxc')},
fine AS (
  SELECT row // {f} AS brow, col // {f} AS bcol,
         ROUND(CAST(SUM(value) AS DOUBLE) / COUNT(value), 6) AS va_mean,
         CAST(COUNT(value) AS BIGINT) AS va_cnt
  FROM pxf GROUP BY 1, 2)
SELECT fine.brow, fine.bcol, fine.va_mean, fine.va_cnt, pxc.value AS vb
FROM fine JOIN pxc ON pxc.row = fine.brow AND pxc.col = fine.bcol"""


# ---------------------------------------------------------------------------
# q: map_vector — C-order scatter of a flat vector into unmasked cells
# (georasters.py:1777-1790)
# ---------------------------------------------------------------------------

def q_map_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import algebra as AL

    px = _px(spark, SPEC).select("row", "col")
    vec = spark.range(200000).select(
        F.col("id").alias("i"), ((F.col("id") * 37) % 1000).alias("new_value")
    )
    return AL.map_vector(px, vec)


def sql_map_vector() -> str:
    return f"""WITH {synth.pixel_sql(SPEC)},
ranked AS (
  SELECT row, col,
         ROW_NUMBER() OVER (ORDER BY row, col) - 1 AS i
  FROM px),
vec AS (SELECT CAST(i.range AS BIGINT) AS i, (i.range * 37) % 1000 AS new_value FROM range(200000) i)
SELECT ranked.row, ranked.col, ranked.i, vec.new_value
FROM ranked JOIN vec ON vec.i = ranked.i"""


# ---------------------------------------------------------------------------
# q: cost_distance — the operator's full pairs+isolation surface, EXACT
# oracle: the same K-round unrolled Bellman-Ford pattern as
# cost_distance_window, extended with a src dimension. Windowed to the
# proven 48x48 sub-grid (BF fixpoint <= 61 rounds from each source,
# numpy-verified == Dijkstra bit-for-bit; K = 120 pins 2x headroom).
# Isolation means are exact-integer micro-unit sums on BOTH sides —
# association-free, so they hash-match (see cost_distance docstring).
# ---------------------------------------------------------------------------

_CDP = {
    "sources": [(0, 101, 200), (1, 120, 220), (2, 135, 235)],
    # 7 valid dests + 1 masked cell (138, 228): exercises the
    # unreachable-pair drop rule (georasters.py:1437) on both sides
    "dests": [(10, 98, 196), (11, 105, 230), (12, 118, 205), (13, 130, 199),
              (14, 140, 215), (15, 99, 238), (16, 125, 210), (17, 138, 228)],
}


def _window_points(spark: SparkSession, pts: list[tuple[int, int, int]]) -> DataFrame:
    """(point_id, x, y) at +0.3-cell offsets so round((y-y0)/cy) lands
    exactly on the intended pixel."""
    spec = SPEC
    rows = [
        (pid, spec.x0 + (c + 0.3) * spec.cellx, spec.y0 + (r + 0.3) * spec.celly)
        for pid, r, c in pts
    ]
    return spark.createDataFrame(rows, "point_id long, x double, y double")


def q_cost_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import distance as DI

    p = _CDW
    spec = SPEC
    return DI.cost_distance(
        images_for(spark, spec),
        _window_points(spark, _CDP["sources"]),
        _window_points(spark, _CDP["dests"]),
        origin=(spec.x0, spec.y0),
        cellsize=(spec.cellx, spec.celly),
        block=p["block"],
        bbox=(p["r0"], p["r1"], p["c0"], p["c1"]),
    )


def sql_cost_distance() -> str:
    p = _CDW
    offsets = ("(-1,-1,sqrt(2.0)), (-1,0,1.0), (-1,1,sqrt(2.0)), (0,-1,1.0), "
               "(0,1,1.0), (1,-1,sqrt(2.0)), (1,0,1.0), (1,1,sqrt(2.0))")
    srcs = ", ".join(
        f"(CAST({s} AS BIGINT), CAST({r} AS BIGINT), CAST({c} AS BIGINT))"
        for s, r, c in _CDP["sources"]
    )
    dsts = ", ".join(
        f"(CAST({d} AS BIGINT), CAST({r} AS BIGINT), CAST({c} AS BIGINT))"
        for d, r, c in _CDP["dests"]
    )
    ctes = [f"""win AS (
  SELECT row, col, CAST(value AS DOUBLE) AS value FROM px
  WHERE row >= {p['r0']} AND row < {p['r1']} AND col >= {p['c0']} AND col < {p['c1']}),
offs(dr, dc, sl) AS (VALUES {offsets}),
cand AS (
  SELECT a.row, a.col, a.value AS va, a.row + o.dr AS r2, a.col + o.dc AS c2, o.sl
  FROM win a CROSS JOIN offs o),
e AS MATERIALIZED (
  SELECT cand.row, cand.col, b.row AS row2, b.col AS col2,
         (cand.va + b.value) / 2.0 * cand.sl AS wgt
  FROM cand JOIN win b ON b.row = cand.r2 AND b.col = cand.c2),
srcs(src, row, col) AS (VALUES {srcs}),
dsts(id2, drow, dcol) AS (VALUES {dsts}),
d0 AS (SELECT src, row, col, CAST(0.0 AS DOUBLE) AS dist FROM srcs)"""]
    # MATERIALIZED: each d_i referenced twice; default inlining is
    # exponential in K (see sql_cost_distance_window)
    for i in range(1, p["K"] + 1):
        ctes.append(f"""d{i} AS MATERIALIZED (
  SELECT src, row, col, MIN(dist) AS dist FROM (
    SELECT src, row, col, dist FROM d{i - 1}
    UNION ALL
    SELECT d{i - 1}.src, e.row2 AS row, e.col2 AS col, d{i - 1}.dist + e.wgt AS dist
    FROM d{i - 1} JOIN e ON e.row = d{i - 1}.row AND e.col = d{i - 1}.col
  ) GROUP BY 1, 2, 3)""")
    k = p["K"]
    return (f"WITH {synth.pixel_sql(SPEC)},\n" + ",\n".join(ctes) + f""",
pairs AS (
  SELECT d.src AS id1, t.id2, ROUND(d.dist / 168, 6) AS dist_weeks
  FROM d{k} d JOIN dsts t ON t.drow = d.row AND t.dcol = d.col),
iso AS (
  SELECT src AS id1, CAST(-1 AS BIGINT) AS id2,
         ROUND(CAST(SUM(CAST(ROUND(dist * 1000000.0) AS BIGINT)) AS DOUBLE)
               / COUNT(*) / 1000000.0 / 168.0, 6) AS dist_weeks
  FROM d{k} GROUP BY src)
SELECT id1, id2, dist_weeks FROM pairs
UNION ALL
SELECT id1, id2, dist_weeks FROM iso""")


# cost_distance_window: the VALUE-level oracle for the SSSP semantics —
# single source on a 48x48 sub-window, Spark = the same distributed
# block SSSP (4 blocks), DuckDB = K-round unrolled Bellman-Ford over
# the window's edge set. K is pinned and pytest-proves BF_K == Dijkstra
# on this window (deterministic data), so the oracle equals the true
# fixpoint. All path sums are IEEE-identical (same association both
# engines), so dist ships UNROUNDED.
_CDW = {"r0": 96, "r1": 144, "c0": 192, "c1": 240, "src_r": 101, "src_c": 200,
        "K": 120, "block": 32}


def q_cost_distance_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import distance as DI

    p = _CDW
    px = _px(spark, SPEC, valid_only=True).filter(
        (F.col("row") >= p["r0"]) & (F.col("row") < p["r1"])
        & (F.col("col") >= p["c0"]) & (F.col("col") < p["c1"])
    ).select("row", "col", F.col("value").cast("double").alias("value"))
    out = DI.block_sssp(px, [(0, p["src_r"], p["src_c"])], block=p["block"])
    return out.select("row", "col", "dist")


def sql_cost_distance_window() -> str:
    p = _CDW
    offsets = ("(-1,-1,sqrt(2.0)), (-1,0,1.0), (-1,1,sqrt(2.0)), (0,-1,1.0), "
               "(0,1,1.0), (1,-1,sqrt(2.0)), (1,0,1.0), (1,1,sqrt(2.0))")
    ctes = [f"""win AS (
  SELECT row, col, CAST(value AS DOUBLE) AS value FROM px
  WHERE row >= {p['r0']} AND row < {p['r1']} AND col >= {p['c0']} AND col < {p['c1']}),
offs(dr, dc, sl) AS (VALUES {offsets}),
cand AS (
  SELECT a.row, a.col, a.value AS va, a.row + o.dr AS r2, a.col + o.dc AS c2, o.sl
  FROM win a CROSS JOIN offs o),
e AS MATERIALIZED (
  SELECT cand.row, cand.col, b.row AS row2, b.col AS col2,
         (cand.va + b.value) / 2.0 * cand.sl AS wgt
  FROM cand JOIN win b ON b.row = cand.r2 AND b.col = cand.c2),
d0 AS (SELECT CAST({p['src_r']} AS BIGINT) AS row, CAST({p['src_c']} AS BIGINT) AS col,
              CAST(0.0 AS DOUBLE) AS dist)"""]
    # MATERIALIZED is load-bearing: each d_i is referenced twice, and
    # DuckDB's default CTE inlining would blow up exponentially in K
    for i in range(1, p["K"] + 1):
        ctes.append(f"""d{i} AS MATERIALIZED (
  SELECT row, col, MIN(dist) AS dist FROM (
    SELECT row, col, dist FROM d{i - 1}
    UNION ALL
    SELECT e.row2 AS row, e.col2 AS col, d{i - 1}.dist + e.wgt AS dist
    FROM d{i - 1} JOIN e ON e.row = d{i - 1}.row AND e.col = d{i - 1}.col
  ) GROUP BY 1, 2)""")
    return (f"WITH {synth.pixel_sql(SPEC)},\n" + ",\n".join(ctes)
            + f"\nSELECT row, col, dist FROM d{p['K']}")


# ---------------------------------------------------------------------------
# q: polygonize — connected-component regions (non-SQL; rows-only)
# ---------------------------------------------------------------------------

def q_reproject(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import reproject as RP

    spec = SPEC
    px = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("value"))
    return RP.reproject(
        px, 4326, "cea",
        src_origin=(spec.x0, spec.y0),
        src_cellsize=(spec.cellx, spec.celly),
        src_shape=(spec.height, spec.width),
        out_shape=(180, 360),
    )


def q_reproject_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tile-cogrouped nearest gather (gather_from_tiles, new r6):
    shuffles ONLY the target lattice keyed by source tile and decodes
    each tile once inside the cogroup kernel — no pixel explode, no
    N-row sort-merge join.  Value-identical to reproject_cea's
    pixel-join plan by construction (same quantized row/col exprs), so
    it shares sql_reproject verbatim; this gate pins that equivalence
    against DuckDB (the sf1 bench tier runs this plan)."""
    from .operators import reproject as RP

    spec = SPEC
    return RP.reproject(
        None, 4326, "cea",
        src_origin=(spec.x0, spec.y0),
        src_cellsize=(spec.cellx, spec.celly),
        src_shape=(spec.height, spec.width),
        out_shape=(180, 360),
        images=images_for(spark, spec),
    ).select("trow", "tcol", "xm", "ym",
             F.col("value").cast("long").alias("value"))


def sql_reproject() -> str:
    from .operators import reproject as RP

    spec = SPEC
    return RP.wgs84_to_cea_sql(
        synth.pixel_sql(spec),
        src_origin=(spec.x0, spec.y0),
        src_cellsize=(spec.cellx, spec.celly),
        src_shape=(spec.height, spec.width),
        out_shape=(180, 360),
    )


# UTM gate: zone-31 window warp; DuckDB recomputes the full Krüger-
# series inverse (tm_inverse_sql emits it term-for-term in the
# tm_inverse_np order), so the gate hash-checks the whole transverse-
# Mercator math, not just the gather.
_UTM_GATE = {"zone": 31, "bbox": (0.0, 36.0, 6.0, 54.0), "out": (64, 32)}


def q_reproject_utm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import reproject as RP

    spec = SPEC
    p = _UTM_GATE
    px = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("value"))
    return RP.reproject(
        px, 4326, 32600 + p["zone"],
        src_origin=(spec.x0, spec.y0),
        src_cellsize=(spec.cellx, spec.celly),
        src_shape=(spec.height, spec.width),
        out_shape=p["out"],
        bbox_lonlat=p["bbox"],
    )


def sql_reproject_utm() -> str:
    from .operators import reproject as RP
    from .operators.reproject import dlit

    spec = SPEC
    p = _UTM_GATE
    lon0 = RP.utm_lon0(p["zone"])
    E0, N0b, E1, N1b = RP.any_bounds(
        4326, 32600 + p["zone"], (spec.x0, spec.y0), (spec.cellx, spec.celly),
        (spec.height, spec.width), p["bbox"])
    th, tw = p["out"]
    tcx = (E1 - E0) / tw
    tcy = (N0b - N1b) / th
    inv_cte, lon_col, lat_col = RP.tm_inverse_sql("em", "nm", lon0)
    return f"""WITH {synth.pixel_sql(spec)},
tgt AS (
  SELECT CAST(tr.range AS BIGINT) AS trow, CAST(tc.range AS BIGINT) AS tcol,
         {dlit(E0)} + (tc.range + 0.5) * {dlit(tcx)} AS em,
         {dlit(N1b)} + (tr.range + 0.5) * {dlit(tcy)} AS nm
  FROM range({th}) tr CROSS JOIN range({tw}) tc),
{inv_cte},
loc AS (
  SELECT trow, tcol, em, nm,
         CAST(FLOOR(ROUND(({lat_col} - {dlit(spec.y0)}) / {dlit(spec.celly)}, {RP._Q})) AS BIGINT) AS row,
         CAST(FLOOR(ROUND(({lon_col} - {dlit(spec.x0)}) / {dlit(spec.cellx)}, {RP._Q})) AS BIGINT) AS col
  FROM loc0)
SELECT loc.trow, loc.tcol, loc.em AS xm, loc.nm AS ym, px.value
FROM loc LEFT JOIN px ON px.row = loc.row AND px.col = loc.col"""


def q_reproject_sinu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sinusoidal (MODIS-grid) warp — closed-form equal-area target."""
    from .operators import reproject as RP

    spec = SPEC
    px = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("value"))
    return RP.reproject(
        px, 4326, "+proj=sinu",
        src_origin=(spec.x0, spec.y0),
        src_cellsize=(spec.cellx, spec.celly),
        src_shape=(spec.height, spec.width),
        out_shape=(90, 180),
    )


def sql_reproject_sinu() -> str:
    from .operators import reproject as RP
    from .operators.reproject import dlit

    spec = SPEC
    X0, Y0b, X1, Y1b = RP.any_bounds(
        4326, "+proj=sinu", (spec.x0, spec.y0), (spec.cellx, spec.celly),
        (spec.height, spec.width))
    th, tw = 90, 180
    tcx = (X1 - X0) / tw
    tcy = (Y0b - Y1b) / th
    Rl = dlit(RP.R)
    return f"""WITH {synth.pixel_sql(spec)},
tgt AS (
  SELECT CAST(tr.range AS BIGINT) AS trow, CAST(tc.range AS BIGINT) AS tcol,
         {dlit(X0)} + (tc.range + 0.5) * {dlit(tcx)} AS xm,
         {dlit(Y1b)} + (tr.range + 0.5) * {dlit(tcy)} AS ym
  FROM range({th}) tr CROSS JOIN range({tw}) tc),
loc AS (
  SELECT trow, tcol, xm, ym,
         CAST(FLOOR(ROUND((ym / {Rl} * 180.0 / pi() - {dlit(spec.y0)}) / {dlit(spec.celly)}, {RP._Q})) AS BIGINT) AS row,
         CAST(FLOOR(ROUND((xm / ({Rl} * cos(ym / {Rl})) * 180.0 / pi() - {dlit(spec.x0)}) / {dlit(spec.cellx)}, {RP._Q})) AS BIGINT) AS col
  FROM tgt)
SELECT loc.trow, loc.tcol, loc.xm AS xm, loc.ym AS ym, px.value
FROM loc LEFT JOIN px ON px.row = loc.row AND px.col = loc.col"""


_CONIC_GATES = {
    # (crs, bbox_lonlat, out_shape) — CONUS Albers and Lambert-93
    "reproject_albers": (5070, (-120.0, 25.0, -75.0, 50.0), (48, 96)),
    "reproject_lcc": ("EPSG:2154", (-5.0, 41.0, 10.0, 51.5), (48, 72)),
}


def _q_conic(gate: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .operators import reproject as RP

        spec = SPEC
        crs, bbox, out_shape = _CONIC_GATES[gate]
        px = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("value"))
        return RP.reproject(
            px, 4326, crs,
            src_origin=(spec.x0, spec.y0),
            src_cellsize=(spec.cellx, spec.celly),
            src_shape=(spec.height, spec.width),
            out_shape=out_shape,
            bbox_lonlat=bbox,
        )

    q.__doc__ = (
        f"Conic warp gate ({gate}): ellipsoidal Snyder inverse as numpy "
        "in one Arrow pass; DuckDB re-derives the series term-for-term.")
    return q


def _sql_conic(gate: str):
    def sql() -> str:
        from .operators import reproject as RP
        from .operators.reproject import dlit

        spec = SPEC
        crs, bbox, out_shape = _CONIC_GATES[gate]
        P = RP.conic_params_of(RP.parse_crs(crs))
        X0, Y0b, X1, Y1b = RP.any_bounds(
            4326, crs, (spec.x0, spec.y0), (spec.cellx, spec.celly),
            (spec.height, spec.width), bbox)
        th, tw = out_shape
        tcx = (X1 - X0) / tw
        tcy = (Y0b - Y1b) / th
        inv_cte, lon_col, lat_col = RP.conic_inverse_sql("xm", "ym", P)
        return f"""WITH {synth.pixel_sql(spec)},
tgt AS (
  SELECT CAST(tr.range AS BIGINT) AS trow, CAST(tc.range AS BIGINT) AS tcol,
         {dlit(X0)} + (tc.range + 0.5) * {dlit(tcx)} AS xm,
         {dlit(Y1b)} + (tr.range + 0.5) * {dlit(tcy)} AS ym
  FROM range({th}) tr CROSS JOIN range({tw}) tc),
{inv_cte},
loc AS (
  SELECT trow, tcol, xm, ym,
         CAST(FLOOR(ROUND(({lat_col} - {dlit(spec.y0)}) / {dlit(spec.celly)}, {RP._Q})) AS BIGINT) AS row,
         CAST(FLOOR(ROUND(({lon_col} - {dlit(spec.x0)}) / {dlit(spec.cellx)}, {RP._Q})) AS BIGINT) AS col
  FROM loc0)
SELECT loc.trow, loc.tcol, loc.xm AS xm, loc.ym AS ym, px.value
FROM loc LEFT JOIN px ON px.row = loc.row AND px.col = loc.col"""

    return sql


q_reproject_albers = _q_conic("reproject_albers")
sql_reproject_albers = _sql_conic("reproject_albers")
q_reproject_lcc = _q_conic("reproject_lcc")
sql_reproject_lcc = _sql_conic("reproject_lcc")


_FROM_CEA = dict(origin=(-2.0e7, 6.3e6),
                 cell=(4.0e7 / 540, -1.26e7 / 270), out=(48, 96))


_DATUM_GATE = dict(out=(54, 108), bbox=(-130.0, 20.0, -60.0, 55.0))


_OSGB_GATE = dict(out=(64, 40), bbox=(-8.0, 49.8, 2.0, 59.0))


def q_reproject_merc3395(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE (ellipsoidal) Mercator target — EPSG:3395 World Mercator,
    ~34 km south of the spherical pseudo-Mercator at lat 52: isometric-
    latitude forward, conformal-latitude + Krüger delta-series inverse,
    all closed form, run as numpy in one Arrow pass; DuckDB re-derives
    the inverse term for term."""
    from .operators import reproject as RP

    spec = SPEC
    px = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("value"))
    return RP.reproject_any(
        px, 4326, 3395,
        src_origin=(spec.x0, spec.y0),
        src_cellsize=(spec.cellx, spec.celly),
        src_shape=(spec.height, spec.width),
        out_shape=(96, 128),
        bbox_lonlat=(-170.0, -80.0, 170.0, 80.0),
    )


def sql_reproject_merc3395() -> str:
    from .operators import reproject as RP
    from .operators.reproject import dlit

    spec = SPEC
    bbox = (-170.0, -80.0, 170.0, 80.0)
    X0, Y0b, X1, Y1b = RP.any_bounds(
        4326, 3395, (spec.x0, spec.y0), (spec.cellx, spec.celly),
        (spec.height, spec.width), bbox)
    th, tw = 96, 128
    tcx = (X1 - X0) / tw
    tcy = (Y0b - Y1b) / th
    lon_sql, lat_sql = RP.merc3395_inverse_sql("xm", "ym")
    return f"""WITH {synth.pixel_sql(spec)},
tgt AS (
  SELECT CAST(tr.range AS BIGINT) AS trow, CAST(tc.range AS BIGINT) AS tcol,
         {dlit(X0)} + (tc.range + 0.5) * {dlit(tcx)} AS xm,
         {dlit(Y1b)} + (tr.range + 0.5) * {dlit(tcy)} AS ym
  FROM range({th}) tr CROSS JOIN range({tw}) tc),
ll AS (
  SELECT trow, tcol, xm, ym, {lon_sql} AS lon, {lat_sql} AS lat FROM tgt),
loc AS (
  SELECT trow, tcol, xm, ym,
         CAST(FLOOR(ROUND((lat - {dlit(spec.y0)}) / {dlit(spec.celly)}, {RP._Q})) AS BIGINT) AS row,
         CAST(FLOOR(ROUND((lon - {dlit(spec.x0)}) / {dlit(spec.cellx)}, {RP._Q})) AS BIGINT) AS col
  FROM ll)
SELECT loc.trow, loc.tcol, loc.xm AS xm, loc.ym AS ym, px.value
FROM loc LEFT JOIN px ON px.row = loc.row AND px.col = loc.col"""


def q_reproject_osgb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROJECTED-on-datum warp (EPSG:27700 British National Grid): the
    WGS84 source grid windowed to Britain lands on a BNG lattice —
    each target center runs the Krüger inverse ON AIRY 1830 with the
    lat0=49 natural origin folded into an effective false northing,
    then the OSGB36 7-param Helmert to WGS84, then the quantized
    gather. The TM kernel reproduces the Ordnance Survey worked
    example to sub-mm (pytest); DuckDB re-derives the entire chain."""
    from .operators import reproject as RP

    spec = SPEC
    p = _OSGB_GATE
    px = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("value"))
    return RP.reproject_any(
        px, 4326, 27700,
        src_origin=(spec.x0, spec.y0),
        src_cellsize=(spec.cellx, spec.celly),
        src_shape=(spec.height, spec.width),
        out_shape=p["out"],
        bbox_lonlat=p["bbox"],
    )


def sql_reproject_osgb() -> str:
    from .operators import reproject as RP
    from .operators.reproject import dlit

    spec = SPEC
    p = _OSGB_GATE
    T = RP.tmd_params(RP.parse_crs(27700))
    X0, Y0b, X1, Y1b = RP.any_bounds(
        4326, 27700, (spec.x0, spec.y0), (spec.cellx, spec.celly),
        (spec.height, spec.width), p["bbox"])
    th, tw = p["out"]
    tcx = (X1 - X0) / tw
    tcy = (Y0b - Y1b) / th
    inv_cte, lon_col, lat_col = RP.tm_inverse_sql(
        "em", "nm", T["lon0"], T["k0"], T["fe"], T["fn_eff"], T["f"], T["a"])
    lon_sql, lat_sql = RP.datum_to_wgs84_sql("lon36", "lat36", T["P"])
    return f"""WITH {synth.pixel_sql(spec)},
tgt AS (
  SELECT CAST(tr.range AS BIGINT) AS trow, CAST(tc.range AS BIGINT) AS tcol,
         {dlit(X0)} + (tc.range + 0.5) * {dlit(tcx)} AS em,
         {dlit(Y1b)} + (tr.range + 0.5) * {dlit(tcy)} AS nm
  FROM range({th}) tr CROSS JOIN range({tw}) tc),
{inv_cte},
osgb AS (
  SELECT trow, tcol, em, nm, {lon_col} AS lon36, {lat_col} AS lat36 FROM loc0),
wgs AS (
  SELECT trow, tcol, em, nm, {lon_sql} AS lon, {lat_sql} AS lat FROM osgb),
loc AS (
  SELECT trow, tcol, em, nm,
         CAST(FLOOR(ROUND((lat - {dlit(spec.y0)}) / {dlit(spec.celly)}, {RP._Q})) AS BIGINT) AS row,
         CAST(FLOOR(ROUND((lon - {dlit(spec.x0)}) / {dlit(spec.cellx)}, {RP._Q})) AS BIGINT) AS col
  FROM wgs)
SELECT loc.trow, loc.tcol, loc.em AS xm, loc.nm AS ym, px.value
FROM loc LEFT JOIN px ON px.row = loc.row AND px.col = loc.col"""


def q_reproject_datum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATUM-shifted warp (the reference applies +towgs84 through osr,
    georasters.py:559-667): the WGS84 source grid windowed to CONUS is
    warped onto a NAD27 (EPSG:4267) geographic lattice — each target
    center runs the full closed-form geocentric pipeline (geodetic ->
    XYZ on Clarke 1866, 3-param Helmert, Bowring inverse on WGS84)
    before the quantized affine gather. DuckDB re-derives the whole
    shift from the same literals, so the Helmert machinery is
    hash-gated end to end."""
    from .operators import reproject as RP

    spec = SPEC
    p = _DATUM_GATE
    px = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("value"))
    return RP.reproject_any(
        px, 4326, 4267,
        src_origin=(spec.x0, spec.y0),
        src_cellsize=(spec.cellx, spec.celly),
        src_shape=(spec.height, spec.width),
        out_shape=p["out"],
        bbox_lonlat=p["bbox"],
    )


def sql_reproject_datum() -> str:
    from .operators import reproject as RP
    from .operators.reproject import dlit

    spec = SPEC
    p = _DATUM_GATE
    X0, Y0b, X1, Y1b = RP.any_bounds(
        4326, 4267, (spec.x0, spec.y0), (spec.cellx, spec.celly),
        (spec.height, spec.width), p["bbox"])
    th, tw = p["out"]
    tcx = (X1 - X0) / tw
    tcy = (Y0b - Y1b) / th
    P = RP.datum_params(RP.parse_crs(4267))
    lon_sql, lat_sql = RP.datum_to_wgs84_sql("xm", "ym", P)
    return f"""WITH {synth.pixel_sql(spec)},
tgt AS (
  SELECT CAST(tr.range AS BIGINT) AS trow, CAST(tc.range AS BIGINT) AS tcol,
         {dlit(X0)} + (tc.range + 0.5) * {dlit(tcx)} AS xm,
         {dlit(Y1b)} + (tr.range + 0.5) * {dlit(tcy)} AS ym
  FROM range({th}) tr CROSS JOIN range({tw}) tc),
ll AS (
  SELECT trow, tcol, xm, ym, {lon_sql} AS lon, {lat_sql} AS lat FROM tgt),
loc AS (
  SELECT trow, tcol, xm, ym,
         CAST(FLOOR(ROUND((lat - {dlit(spec.y0)}) / {dlit(spec.celly)}, {RP._Q})) AS BIGINT) AS row,
         CAST(FLOOR(ROUND((lon - {dlit(spec.x0)}) / {dlit(spec.cellx)}, {RP._Q})) AS BIGINT) AS col
  FROM ll)
SELECT loc.trow, loc.tcol, loc.xm AS xm, loc.ym AS ym, px.value
FROM loc LEFT JOIN px ON px.row = loc.row AND px.col = loc.col"""


def q_reproject_from_cea(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROJECTED-source warp (the reference accepts any source CRS):
    the synthetic grid reinterpreted as an EPSG:6933-style CEA raster,
    warped back to WGS84 through the general inverse(dst)∘forward(src)
    composition — DuckDB recomputes forward-CEA + the affine gather."""
    from .operators import reproject as RP

    spec = SPEC
    p = _FROM_CEA
    px = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("value"))
    return RP.reproject(
        px, "EPSG:6933", 4326,
        src_origin=p["origin"], src_cellsize=p["cell"],
        src_shape=(spec.height, spec.width), out_shape=p["out"],
    )


def sql_reproject_from_cea() -> str:
    from .operators import reproject as RP
    from .operators.reproject import dlit

    spec = SPEC
    p = _FROM_CEA
    X0, Y0b, X1, Y1b = RP.any_bounds(
        "EPSG:6933", 4326, p["origin"], p["cell"], (spec.height, spec.width))
    th, tw = p["out"]
    tcx = (X1 - X0) / tw
    tcy = (Y0b - Y1b) / th
    x0g, y0g = p["origin"]
    cx, cy = p["cell"]
    Rl = dlit(RP.R)
    d2r = dlit(RP._D2R)
    # forward CEA of the (lon=xm, lat=ym) target center, emitted with
    # the SAME literals and multiply pairing as crs_funcs('cea')'s
    # Columns so both engines agree to the gather quantization
    return f"""WITH {synth.pixel_sql(spec)},
tgt AS (
  SELECT CAST(tr.range AS BIGINT) AS trow, CAST(tc.range AS BIGINT) AS tcol,
         {dlit(X0)} + (tc.range + 0.5) * {dlit(tcx)} AS xm,
         {dlit(Y1b)} + (tr.range + 0.5) * {dlit(tcy)} AS ym
  FROM range({th}) tr CROSS JOIN range({tw}) tc),
loc AS (
  SELECT trow, tcol, xm, ym,
         CAST(FLOOR(ROUND(({Rl} * sin(ym * {d2r}) - {dlit(y0g)}) / {dlit(cy)}, {RP._Q})) AS BIGINT) AS row,
         CAST(FLOOR(ROUND(({Rl} * xm * {d2r} - {dlit(x0g)}) / {dlit(cx)}, {RP._Q})) AS BIGINT) AS col
  FROM tgt)
SELECT loc.trow, loc.tcol, loc.xm AS xm, loc.ym AS ym, px.value
FROM loc LEFT JOIN px ON px.row = loc.row AND px.col = loc.col"""


def q_reproject_bilinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import reproject as RP

    spec = SPEC
    px = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("value"))
    return RP.reproject(
        px, 4326, "cea",
        src_origin=(spec.x0, spec.y0),
        src_cellsize=(spec.cellx, spec.celly),
        src_shape=(spec.height, spec.width),
        out_shape=(90, 180),
        resampling="bilinear",
    )


def q_reproject_tiles_bilinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile-cogrouped BILINEAR gather: the 2-tap row of the
    separable-kernel table through _kernel_gather_tiles (the weight
    arithmetic of the pixel-join _kernel_gather, renormalized over
    valid corners), so it shares sql_reproject_bilinear verbatim.
    Pins the no-pixel-explode bilinear plan against DuckDB."""
    from .operators import reproject as RP

    spec = SPEC
    return RP.reproject(
        None, 4326, "cea",
        src_origin=(spec.x0, spec.y0),
        src_cellsize=(spec.cellx, spec.celly),
        src_shape=(spec.height, spec.width),
        out_shape=(90, 180),
        resampling="bilinear",
        images=images_for(spark, spec),
    )


def sql_reproject_bilinear() -> str:
    from .operators import reproject as RP

    spec = SPEC
    return RP.wgs84_to_cea_bilinear_sql(
        synth.pixel_sql(spec),
        src_origin=(spec.x0, spec.y0),
        src_cellsize=(spec.cellx, spec.celly),
        src_shape=(spec.height, spec.width),
        out_shape=(90, 180),
    )


# --- r5 gates: the resampling-mode × CRS-family matrix completion
# (verdict item 1 — reference warps with EVERY GDAL mode to ANY target
# CRS, georasters.py:592-606; until r5 cubic/lanczos/average only
# reached the CEA/WebMercator families).

_UTM_CUBIC_GATE = {"bbox": (0.0, 36.0, 6.0, 54.0), "out": (48, 24)}
_LCC_LANCZOS_GATE = {"bbox": (-5.0, 41.0, 10.0, 51.5), "out": (40, 60)}


def _kernel_gate_sql(kernel: str, inv_cte: str, lon_col: str, lat_col: str,
                     tgt_cte: str) -> str:
    """Shared oracle tail for the convolution-kernel warp gates: from a
    loc0 CTE exposing lon/lat per (trow, tcol), rebuild the quantized
    fractional index, the kernel's neighbor weights (term-for-term via
    kernel_weight_sql) and the renormalized gather."""
    from .operators import reproject as RP
    from .operators.reproject import dlit

    spec = SPEC
    offs = RP.kernel_offsets(kernel)
    values = ", ".join(f"({a}, {b})" for a in offs for b in offs)
    w_row = RP.kernel_weight_sql(kernel, "ABS(o.a - f.du)")
    w_col = RP.kernel_weight_sql(kernel, "ABS(o.b - f.dv)")
    return f"""WITH {synth.pixel_sql(spec)},
{tgt_cte},
{inv_cte},
f AS (
  SELECT trow, tcol,
         CAST(FLOOR(u) AS BIGINT) AS r0, u - FLOOR(u) AS du,
         CAST(FLOOR(v) AS BIGINT) AS c0, v - FLOOR(v) AS dv
  FROM (SELECT trow, tcol,
               ROUND(({lat_col} - {dlit(spec.y0)}) / {dlit(spec.celly)} - 0.5, {RP._Q}) AS u,
               ROUND(({lon_col} - {dlit(spec.x0)}) / {dlit(spec.cellx)} - 0.5, {RP._Q}) AS v
        FROM loc0)),
corners AS (
  SELECT f.trow, f.tcol, f.r0 + o.a AS row, f.c0 + o.b AS col,
         ({w_row}) * ({w_col}) AS wgt
  FROM f CROSS JOIN (VALUES {values}) o(a, b)),
agg AS (
  SELECT corners.trow, corners.tcol,
         CASE WHEN ABS(SUM(corners.wgt)) >= 0.05
              THEN ROUND(SUM(corners.wgt * px.value) / SUM(corners.wgt), 6) END AS value,
         CAST(COUNT(*) AS BIGINT) AS n_contrib
  FROM corners JOIN px ON px.row = corners.row AND px.col = corners.col
  GROUP BY 1, 2)
SELECT t0.trow, t0.tcol, agg.value, agg.n_contrib
FROM (SELECT trow, tcol FROM tgt) t0
LEFT JOIN agg ON agg.trow = t0.trow AND agg.tcol = t0.tcol"""


def q_reproject_utm_cubic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTM × cubic — the verdict's named bread-and-butter GDAL call
    ("warp a DEM to UTM with cubic"): the composed warp's Catmull-Rom
    4×4 gather over the full Krüger-series inverse, hash-gated against
    a DuckDB re-derivation of every weight."""
    from .operators import reproject as RP

    spec = SPEC
    p = _UTM_CUBIC_GATE
    px = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("value"))
    return RP.reproject(
        px, 4326, 32631,
        src_origin=(spec.x0, spec.y0),
        src_cellsize=(spec.cellx, spec.celly),
        src_shape=(spec.height, spec.width),
        out_shape=p["out"],
        resampling="cubic",
        bbox_lonlat=p["bbox"],
    )


def sql_reproject_utm_cubic() -> str:
    from .operators import reproject as RP
    from .operators.reproject import dlit

    spec = SPEC
    p = _UTM_CUBIC_GATE
    X0, Y0b, X1, Y1b = RP.any_bounds(
        4326, 32631, (spec.x0, spec.y0), (spec.cellx, spec.celly),
        (spec.height, spec.width), p["bbox"])
    th, tw = p["out"]
    tcx = (X1 - X0) / tw
    tcy = (Y0b - Y1b) / th
    lon0 = RP.utm_lon0(31)
    inv_cte, lon_col, lat_col = RP.tm_inverse_sql("em", "nm", lon0)
    tgt_cte = f"""tgt AS (
  SELECT CAST(tr.range AS BIGINT) AS trow, CAST(tc.range AS BIGINT) AS tcol,
         {dlit(X0)} + (tc.range + 0.5) * {dlit(tcx)} AS em,
         {dlit(Y1b)} + (tr.range + 0.5) * {dlit(tcy)} AS nm
  FROM range({th}) tr CROSS JOIN range({tw}) tc)"""
    return _kernel_gate_sql("catmull", inv_cte, lon_col, lat_col, tgt_cte)


def q_reproject_webmerc_cubic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebMercator × cubic through the composed warp, POLE-REACHING
    source and no bbox — the r5 advisor's failure scenario: any_bounds
    must clip the lattice to the ±85.05112878 Mercator square (the
    same extent as reproject_webmerc) instead of silently warping an
    arctanh(±1)=inf lattice to all-NULL."""
    from .operators import reproject as RP

    spec = SPEC
    px = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("value"))
    return RP.reproject(
        px, 4326, "EPSG:3857",
        src_origin=(spec.x0, spec.y0),
        src_cellsize=(spec.cellx, spec.celly),
        src_shape=(spec.height, spec.width),
        out_shape=(64, 128),
        resampling="cubic",
    )


def sql_reproject_webmerc_cubic() -> str:
    from .operators import reproject as RP
    from .operators.reproject import dlit

    spec = SPEC
    # shared literal derivation: any_bounds applies the Mercator clip
    X0, Y0b, X1, Y1b = RP.any_bounds(
        4326, "EPSG:3857", (spec.x0, spec.y0), (spec.cellx, spec.celly),
        (spec.height, spec.width))
    th, tw = 64, 128
    tcx = (X1 - X0) / tw
    tcy = (Y0b - Y1b) / th
    R = RP.R
    d2r = RP._D2R
    tgt_cte = f"""tgt AS (
  SELECT CAST(tr.range AS BIGINT) AS trow, CAST(tc.range AS BIGINT) AS tcol,
         {dlit(X0)} + (tc.range + 0.5) * {dlit(tcx)} AS em,
         {dlit(Y1b)} + (tr.range + 0.5) * {dlit(tcy)} AS nm
  FROM range({th}) tr CROSS JOIN range({tw}) tc)"""
    # webmerc inverse: lon = x/R/deg, lat = atan(sinh(y/R))/deg; DuckDB
    # has no SINH — (exp(t)-exp(-t))/2 differs by ulps only, absorbed
    # by the 1e-4-cell gather quantization
    inv_cte = f"""loc0 AS (
  SELECT trow, tcol,
         em / {dlit(R)} / {dlit(d2r)} AS lon,
         ATAN((EXP(nm / {dlit(R)}) - EXP(-(nm / {dlit(R)}))) / 2.0)
           / {dlit(d2r)} AS lat
  FROM tgt)"""
    return _kernel_gate_sql("catmull", inv_cte, "lon", "lat", tgt_cte)


def q_reproject_lcc_lanczos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conic × lanczos: 6×6 windowed-sinc gather over the Lambert
    Conformal inverse (EPSG:2154) through the composed warp."""
    from .operators import reproject as RP

    spec = SPEC
    p = _LCC_LANCZOS_GATE
    px = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("value"))
    return RP.reproject(
        px, 4326, "EPSG:2154",
        src_origin=(spec.x0, spec.y0),
        src_cellsize=(spec.cellx, spec.celly),
        src_shape=(spec.height, spec.width),
        out_shape=p["out"],
        resampling="lanczos",
        bbox_lonlat=p["bbox"],
    )


def sql_reproject_lcc_lanczos() -> str:
    from .operators import reproject as RP
    from .operators.reproject import dlit

    spec = SPEC
    p = _LCC_LANCZOS_GATE
    X0, Y0b, X1, Y1b = RP.any_bounds(
        4326, "EPSG:2154", (spec.x0, spec.y0), (spec.cellx, spec.celly),
        (spec.height, spec.width), p["bbox"])
    th, tw = p["out"]
    tcx = (X1 - X0) / tw
    tcy = (Y0b - Y1b) / th
    P = RP.conic_params_of(RP.parse_crs("EPSG:2154"))
    inv_cte, lon_col, lat_col = RP.conic_inverse_sql("xm", "ym", P)
    tgt_cte = f"""tgt AS (
  SELECT CAST(tr.range AS BIGINT) AS trow, CAST(tc.range AS BIGINT) AS tcol,
         {dlit(X0)} + (tc.range + 0.5) * {dlit(tcx)} AS xm,
         {dlit(Y1b)} + (tr.range + 0.5) * {dlit(tcy)} AS ym
  FROM range({th}) tr CROSS JOIN range({tw}) tc)"""
    return _kernel_gate_sql("lanczos", inv_cte, lon_col, lat_col, tgt_cte)


def q_reproject_any_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projected→projected aggregate warp (CEA source → WebMercator
    target, GDAL 'average'): every source center forward-composes
    inv(CEA)∘fwd(3857) and buckets into its target cell — one grouped
    aggregate, map-side partials, only non-empty cells emitted."""
    from .operators import reproject as RP

    spec = SPEC
    px = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("value"))
    return RP.reproject(
        px, "EPSG:6933", "EPSG:3857",
        src_origin=_FROM_CEA["origin"],
        src_cellsize=_FROM_CEA["cell"],
        src_shape=(spec.height, spec.width),
        out_shape=_FROM_CEA["out"],
        resampling="average",
    )


def _sql_from_cea_binned() -> tuple[str, int, int]:
    """Shared WITH-chain binning every source center CEA→lon/lat→
    WebMercator into target cells (the reproject_any forward-bucket
    lattice); returns (cte_sql, th, tw) for the aggregate gates."""
    from .operators import reproject as RP
    from .operators.reproject import _D2R, dlit

    spec = SPEC
    x0g, y0g = _FROM_CEA["origin"]
    cx, cy = _FROM_CEA["cell"]
    th, tw = _FROM_CEA["out"]
    X0, Y0b, X1, Y1b = RP.any_bounds(
        "EPSG:6933", "EPSG:3857", (x0g, y0g), (cx, cy),
        (spec.height, spec.width))
    tcx = (X1 - X0) / tw
    tcy = (Y0b - Y1b) / th
    R = RP.R
    # source centers -> inv(CEA) -> lon/lat -> fwd(WebMercator), each
    # stage spelled with the SAME multiply pairing as the Column exprs
    return f"""WITH {synth.pixel_sql(spec)},
ctr AS (
  SELECT value,
         {dlit(x0g)} + (col + 0.5) * {dlit(cx)} AS xc,
         {dlit(y0g)} + (row + 0.5) * {dlit(cy)} AS yc
  FROM px),
ll AS (
  SELECT value,
         xc / {dlit(R * 1.0)} / {dlit(_D2R)} AS lon,
         asin(least(greatest(yc * {dlit(1.0 / R)}, -1.0), 1.0)) / {dlit(_D2R)} AS lat
  FROM ctr),
fwd AS (
  SELECT value,
         {dlit(R)} * lon * {dlit(_D2R)} AS X,
         {dlit(R)} * 0.5 * ln((1.0 + sin(lat * {dlit(_D2R)})) / (1.0 - sin(lat * {dlit(_D2R)}))) AS Y
  FROM ll),
binned AS (
  SELECT CAST(FLOOR(ROUND((Y - {dlit(Y1b)}) / {dlit(tcy)}, {RP._Q})) AS BIGINT) AS trow,
         CAST(FLOOR(ROUND((X - {dlit(X0)}) / {dlit(tcx)}, {RP._Q})) AS BIGINT) AS tcol,
         value
  FROM fwd)""", th, tw


def sql_reproject_any_average() -> str:
    cte, th, tw = _sql_from_cea_binned()
    return f"""{cte}
SELECT trow, tcol,
       ROUND(CAST(SUM(value) AS DOUBLE) / CAST(COUNT(value) AS DOUBLE), 6) AS value,
       CAST(COUNT(value) AS BIGINT) AS n_contrib
FROM binned
WHERE trow >= 0 AND trow < {th} AND tcol >= 0 AND tcol < {tw}
GROUP BY 1, 2"""


def q_reproject_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r6s5: the four remaining gdalwarp -r aggregates — rms, med, q1,
    q3 — completing the ENTIRE gdalwarp resampling enum. Same
    CEA→WebMercator forward-bucket warp as reproject_any_average, one
    mode per pass, results joined on the (identical) target lattice.
    rms derives from the exact integer sum of squares; med/q1/q3 use
    the standard linear-interpolated quantile (Spark percentile ==
    DuckDB quantile_cont on integer inputs)."""
    from .operators import reproject as RP

    spec = SPEC
    px = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("value"))
    kw = dict(
        src_origin=_FROM_CEA["origin"], src_cellsize=_FROM_CEA["cell"],
        src_shape=(spec.height, spec.width), out_shape=_FROM_CEA["out"])
    out = None
    for m in ("rms", "med", "q1", "q3"):
        o = RP.reproject(px, "EPSG:6933", "EPSG:3857", resampling=m, **kw)
        o = o.select("trow", "tcol", F.col("value").alias(m),
                     *(["n_contrib"] if m == "rms" else []))
        out = o if out is None else out.join(o, ["trow", "tcol"])
    return out


def sql_reproject_quartiles() -> str:
    cte, th, tw = _sql_from_cea_binned()
    return f"""{cte}
SELECT trow, tcol,
       ROUND(SQRT(CAST(SUM(value * value) AS DOUBLE) / COUNT(value)), 6) AS rms,
       CAST(COUNT(value) AS BIGINT) AS n_contrib,
       ROUND(CAST(MEDIAN(value) AS DOUBLE), 6) AS med,
       ROUND(quantile_cont(value, 0.25), 6) AS q1,
       ROUND(quantile_cont(value, 0.75), 6) AS q3
FROM binned
WHERE trow >= 0 AND trow < {th} AND tcol >= 0 AND tcol < {tw}
GROUP BY 1, 2"""


def q_reproject_webmerc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import reproject as RP

    spec = SPEC
    px = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("value"))
    return RP.reproject(
        px, 4326, "webmercator",
        src_origin=(spec.x0, spec.y0),
        src_cellsize=(spec.cellx, spec.celly),
        src_shape=(spec.height, spec.width),
        out_shape=(128, 128),
    )


def sql_reproject_webmerc() -> str:
    from .operators import reproject as RP

    spec = SPEC
    return RP.wgs84_to_webmercator_sql(
        synth.pixel_sql(spec),
        src_origin=(spec.x0, spec.y0),
        src_cellsize=(spec.cellx, spec.celly),
        src_shape=(spec.height, spec.width),
        out_shape=(128, 128),
    )


def q_psnr_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossy-codec gate as a first-class query: re-encode every tile as
    q8, decode both, per-tile PSNR vs the lossless original — the
    input_hint's PSNR>=40dB invariant (rows-only: DuckDB cannot decode)."""
    import pandas as pd

    from .sources import codec

    def kernel(batches):
        for pdf in batches:
            rows = []
            for t in pdf.itertuples(index=False):
                ref = codec.decode_tile(bytes(t.bytes), t.fmt, int(t.w), int(t.h), float(t.ndv))
                lossy = codec.decode_tile(
                    codec.encode_tile(ref, "q8", float(t.ndv)), "q8", int(t.w), int(t.h), float(t.ndv)
                )
                p = codec.psnr(ref, lossy, float(t.ndv))
                rows.append(
                    {"image_id": t.image_id, "psnr_db": round(min(p, 999.0), 3),
                     "passes_gate": bool(p >= 40.0)}
                )
            yield pd.DataFrame(rows)

    imgs = images_for(spark, SPEC)
    return imgs.select("image_id", "bytes", "fmt", "w", "h", "ndv").mapInPandas(
        kernel, schema="image_id string, psnr_db double, passes_gate boolean"
    )


def _q8_cells_sql(spec: GridSpec) -> str:
    """Shared CTE chain: the full 64x64 tile lattice (incl. edge
    padding), the q8 codec's per-tile (lo, hi, span) range, and the
    decoded lossy value — every step mirrors sources/codec.py
    encode_q8/decode_q8 expression-for-expression, so DuckDB recomputes
    the LOSSY CODEC itself from the synthetic field formulas."""
    t = spec.tile
    return f"""cells AS (
  SELECT CAST(ty.range AS BIGINT) AS ty, CAST(tx.range AS BIGINT) AS tx,
         CAST(i.range AS BIGINT) AS i, CAST(j.range AS BIGINT) AS j,
         CASE WHEN ty.range * {t} + i.range < {spec.height}
               AND tx.range * {t} + j.range < {spec.width}
               AND NOT (((ty.range*{t}+i.range)*31 + (tx.range*{t}+j.range)*17 + {spec.seed}*7) % 97 < 24)
              THEN CAST(((ty.range*{t}+i.range)*7919 + (tx.range*{t}+j.range)*104729 + {spec.seed}) % 1997 AS DOUBLE)
         END AS v
  FROM range({spec.tiles_y}) ty CROSS JOIN range({spec.tiles_x}) tx
       CROSS JOIN range({t}) i CROSS JOIN range({t}) j),
rng AS (
  SELECT ty, tx,
         COALESCE(CAST(MIN(v) AS DOUBLE), 0.0) AS lo,
         CASE WHEN MAX(v) IS NULL OR MAX(v) - MIN(v) = 0 THEN 1.0
              ELSE CAST(MAX(v) AS DOUBLE) - CAST(MIN(v) AS DOUBLE) END AS span
  FROM cells GROUP BY 1, 2),
dec AS (
  SELECT cells.ty, cells.tx, cells.i, cells.j, cells.v,
         CASE WHEN cells.v IS NULL THEN NULL
              ELSE rng.lo + LEAST(GREATEST(round_even((cells.v - rng.lo) / rng.span * 254.0, 0), 0.0), 254.0) / 254.0 * rng.span
         END AS d
  FROM cells JOIN rng ON rng.ty = cells.ty AND rng.tx = cells.tx)"""


def _phash_fold_sql(src: str, val_expr: str, spec: GridSpec) -> str:
    """SQL reimplementation of codec.average_hash over `src` rows
    (ty, tx, i, j, {val_expr}): 8x8 block means with ndv→0, bit = block
    mean > mean of block means, bits folded MSB-first into a SIGNED
     64-bit value (bit 63 contributes -2^63 — two's complement without
    BIGINT overflow)."""
    return f"""SELECT ty, tx, CAST(SUM(contrib) AS BIGINT) AS phash FROM (
  SELECT b.ty, b.tx,
         CASE WHEN b.bm > AVG(b.bm) OVER (PARTITION BY b.ty, b.tx)
              THEN CASE WHEN 63 - (b.bi * 8 + b.bj) = 63 THEN -9223372036854775808
                        ELSE (CAST(1 AS BIGINT) << CAST(63 - (b.bi * 8 + b.bj) AS INT)) END
              ELSE 0 END AS contrib
  FROM (
    SELECT ty, tx, i // 8 AS bi, j // 8 AS bj, AVG({val_expr}) AS bm
    FROM {src} GROUP BY 1, 2, 3, 4) b
) GROUP BY 1, 2"""


def sql_psnr_gate() -> str:
    spec = SPEC
    return f"""WITH {_q8_cells_sql(spec)},
err AS (
  SELECT ty, tx,
         AVG((v - d) * (v - d)) AS mse,
         MAX(ABS(v)) AS peak
  FROM dec WHERE v IS NOT NULL GROUP BY 1, 2)
SELECT printf('{spec.grid_id}_%04d_%04d', CAST(ty AS INT), CAST(tx AS INT)) AS image_id,
       ROUND(LEAST(CASE WHEN mse = 0 THEN 1e18
                        ELSE 10.0 * log10((CASE WHEN peak = 0 THEN 1.0 ELSE peak END)
                                          * (CASE WHEN peak = 0 THEN 1.0 ELSE peak END) / mse) END,
                   999.0), 3) AS psnr_db,
       (CASE WHEN mse = 0 THEN 1e18
             ELSE 10.0 * log10((CASE WHEN peak = 0 THEN 1.0 ELSE peak END)
                               * (CASE WHEN peak = 0 THEN 1.0 ELSE peak END) / mse) END) >= 40.0 AS passes_gate
FROM err"""


def sql_phash_near_dup() -> str:
    spec = SPEC
    raw_fold = _phash_fold_sql("cells", "COALESCE(v, 0.0)", spec)
    lossy_fold = _phash_fold_sql("dec", "COALESCE(d, 0.0)", spec)
    return f"""WITH {_q8_cells_sql(spec)},
ph_raw AS ({raw_fold}),
ph_lossy AS ({lossy_fold}),
ph AS (
  SELECT printf('{spec.grid_id}_%04d_%04d', CAST(ty AS INT), CAST(tx AS INT)) AS image_id, phash FROM ph_raw
  UNION ALL
  SELECT printf('lossy_{spec.grid_id}_%04d_%04d', CAST(ty AS INT), CAST(tx AS INT)) AS image_id, phash FROM ph_lossy)
SELECT a.image_id AS img_a, b.image_id AS img_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
FROM ph a JOIN ph b ON a.image_id < b.image_id
WHERE bit_count(xor(a.phash, b.phash)) <= 6"""


def q_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup detection over phash with 4-band blocking plus an
    injected duplicate grid (g42 tiles vs their q8-lossy re-encodes)."""
    from .operators import dedup as DD
    from .operators import pixels as PXo  # noqa: F401

    imgs = images_for(spark, SPEC).select("image_id", "phash")
    lossy = images_for(spark, SPEC, fmt="q8").select(
        F.concat(F.lit("lossy_"), F.col("image_id")).alias("image_id"), "phash"
    )
    return DD.phash_near_dup_pairs(imgs.unionByName(lossy), max_hamming=6, n_bands=8)


def q_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clip: per-zone mini-tile sub-rasters (georasters.py:870-906),
    single grouped-map stage. EXACT oracle: the produced tile BYTES are
    decoded back and reduced to per-(zone, tile) integer stats, so the
    whole binary assemble/encode path is what gets hash-checked against
    DuckDB's synthetic-field + convex-PIP recomputation. mode='center'
    (the SQL-expressible PIP rule; all_touched stays pytest-covered)."""
    import numpy as np
    import pandas as pd

    from .sources import codec

    spec = SPEC
    clipped = SJ.clip(
        images_for(spark, spec),
        synth.ZONES_T1,
        origin=(spec.x0, spec.y0),
        cellsize=(spec.cellx, spec.celly),
        tile=spec.tile,
        ndv=spec.ndv,
        mode="center",
    )

    def stats(batches):
        for pdf in batches:
            rows = []
            for t in pdf.itertuples(index=False):
                arr = codec.decode_tile(
                    bytes(t.bytes), t.fmt, int(t.w), int(t.h), float(t.ndv)
                )
                v = np.asarray(arr, dtype=np.int64)[np.asarray(arr) != float(t.ndv)]
                rows.append(
                    {"zone_id": int(t.zone_id), "tile_row": int(t.tile_row),
                     "tile_col": int(t.tile_col), "n_valid": int(v.size),
                     "vsum": int(v.sum()), "vmin": int(v.min()), "vmax": int(v.max())}
                )
            yield pd.DataFrame(
                rows, columns=["zone_id", "tile_row", "tile_col",
                               "n_valid", "vsum", "vmin", "vmax"])

    return clipped.select("zone_id", "tile_row", "tile_col", "bytes", "fmt",
                          "w", "h", "ndv").mapInPandas(
        stats,
        schema="zone_id long, tile_row long, tile_col long, n_valid long, "
               "vsum long, vmin long, vmax long",
    )


def sql_clip() -> str:
    spec = SPEC
    preds = [
        f"SELECT {z.zone_id} AS zone_id, px.row, px.col, px.value FROM px WHERE "
        + synth.zone_sql_predicate(z, "px.xc", "px.yc")
        for z in synth.ZONES_T1
    ]
    return f"""WITH {synth.pixel_sql(spec)}, hits AS ({' UNION ALL '.join(preds)})
SELECT zone_id, row // {spec.tile} AS tile_row, col // {spec.tile} AS tile_col,
       CAST(COUNT(*) AS BIGINT) AS n_valid,
       CAST(SUM(value) AS BIGINT) AS vsum,
       CAST(MIN(value) AS BIGINT) AS vmin,
       CAST(MAX(value) AS BIGINT) AS vmax
FROM hits GROUP BY 1, 2, 3"""


def q_squares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """to_geopandas(squares) per-pixel square geometry
    (georasters.py:1717-1721): corner coords are pure Column arithmetic
    over literal doubles — bit-identical to the oracle, unrounded."""
    from .operators import algebra as AL

    spec = SPEC
    px = _px(spark, SPEC).select("row", "col", "value")
    return AL.squares(px, origin=(spec.x0, spec.y0), cellsize=(spec.cellx, spec.celly))


def sql_squares() -> str:
    from .operators.reproject import dlit

    spec = SPEC
    x0 = f"({dlit(spec.x0)} + col * {dlit(spec.cellx)})"
    y0 = f"({dlit(spec.y0)} + row * {dlit(spec.celly)})"
    return f"""WITH {synth.pixel_sql(spec)}
SELECT row, col, value,
       {x0} AS x0, {y0} AS y0,
       {x0} + {dlit(spec.cellx)} AS x1, {y0} + {dlit(spec.celly)} AS y1
FROM px"""


def q_polygonize_geoms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region POLYGON rings (to_geopandas parity). EXACT structural
    oracle: the full ring-stitching pipeline runs, and its per-region
    (value, area_cells, perim_steps) projection is hashed against the
    recursive-CC oracle — area from the shoelace over the stitched
    rings, perimeter from the stitched ring lengths, both of which are
    independently recomputable from the CC labels (4·n − Σdeg). The WKT
    string itself (ring ORDER is engine-specific) stays pytest-verified:
    ring closure, hole count, shoelace area == n_cells·cell_area."""
    from .operators import algebra as AL

    spec = SPEC
    px = _px(spark, SPEC).filter((F.col("row") < 128) & (F.col("col") < 128)).select(
        "row", "col", (F.col("value").cast("long") / 500).cast("long").cast("double").alias("value")
    )
    return AL.polygonize_geoms(
        px, origin=(spec.x0, spec.y0), cellsize=(spec.cellx, spec.celly),
        merge="distributed",
    ).select("value", "area_cells", "perim_steps")


def sql_polygonize_geoms() -> str:
    return _cc_sql(SPEC, 128, 128, divisor=500, struct=True)


def q_polygonize_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component region stats with an EXACT oracle: DuckDB
    recomputes the components by recursive min-label propagation over
    the same window (feasible because UNION-dedup recursion costs
    Σ|region|² tuples ≈ 29k here). Region identity is engine-specific,
    so rows are canonicalized to (value, n_cells, bbox) multisets."""
    from .operators import algebra as AL

    px = _px(spark, SPEC).filter((F.col("row") < 128) & (F.col("col") < 128)).select(
        "row", "col", (F.col("value").cast("long") / 250).cast("long").cast("double").alias("value")
    )
    return AL.polygonize(px, merge="distributed").select(
        F.col("value").cast("long").alias("value"),
        "n_cells", "min_row", "min_col", "max_row", "max_col",
    )


def _cc_sql(spec: GridSpec, r_max: int, c_max: int, divisor: int = 250,
            struct: bool = False, connectivity: int = 4,
            win_cte: str | None = None) -> str:
    """Recursive min-label connected-components oracle over the
    /divisor-quantized field restricted to rows < r_max, cols < c_max.
    Viable because UNION-dedup recursion costs sum(|region|^2) tuples —
    260k even on the full grid at /250. struct=True emits the
    polygonize_geoms structural projection instead: (value DOUBLE,
    area_cells, perim_steps) per region, with perim_steps = 4·n −
    Σdeg recomputed from the 4-adjacency degree — the label-side
    identity the stitched ring lengths must reproduce."""
    offs_vals = "(1, 0), (-1, 0), (0, 1), (0, -1)"
    if connectivity == 8:
        if struct:
            # perim_steps = 4n - Σdeg is the 4-adjacency identity only
            raise ValueError("_cc_sql: struct projection is 4-conn-only")
        offs_vals += ", (1, 1), (1, -1), (-1, 1), (-1, -1)"
    if win_cte is None:
        win_cte = (f"{synth.pixel_sql(spec)},\n"
                   f"win AS (SELECT row, col, value // {divisor} AS value "
                   f"FROM px WHERE row < {r_max} AND col < {c_max})")
    head = f"""WITH RECURSIVE {win_cte},
offs(dr, dc) AS (VALUES {offs_vals}),
cand AS (SELECT a.row, a.col, a.value, a.row + o.dr AS r2, a.col + o.dc AS c2
         FROM win a CROSS JOIN offs o),
e AS MATERIALIZED (
  SELECT cand.row, cand.col, b.row AS r2, b.col AS c2
  FROM cand JOIN win b ON b.row = cand.r2 AND b.col = cand.c2 AND b.value = cand.value),
lab AS (
  SELECT row, col, row * 1000000 + col AS lbl FROM win
  UNION
  SELECT e.r2 AS row, e.c2 AS col, lab.lbl FROM lab JOIN e ON e.row = lab.row AND e.col = lab.col),
final AS (SELECT row, col, MIN(lbl) AS region FROM lab GROUP BY 1, 2)"""
    if struct:
        return head + """,
deg AS (SELECT row, col, COUNT(*) AS d FROM e GROUP BY 1, 2),
j AS (SELECT win.row, win.col, win.value, final.region, COALESCE(deg.d, 0) AS d
      FROM win JOIN final ON final.row = win.row AND final.col = win.col
      LEFT JOIN deg ON deg.row = win.row AND deg.col = win.col)
SELECT CAST(value AS DOUBLE) AS value,
       CAST(COUNT(*) AS BIGINT) AS area_cells,
       CAST(4 * COUNT(*) - SUM(d) AS BIGINT) AS perim_steps
FROM j GROUP BY region, value"""
    return head + """,
j AS (SELECT win.row, win.col, win.value, final.region
      FROM win JOIN final ON final.row = win.row AND final.col = win.col)
SELECT CAST(value AS BIGINT) AS value,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       MIN(row) AS min_row, MIN(col) AS min_col,
       MAX(row) AS max_row, MAX(col) AS max_col
FROM j GROUP BY region, value"""


def sql_polygonize_window() -> str:
    return _cc_sql(SPEC, 128, 128)


def q_polygonize_8conn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_polygonize -8 / rasterio connectivity=8: diagonal-touching
    equal-value cells merge.  The standard /250 field has NO
    diagonal-only equal pairs (its diagonal residue deltas 816/1043
    exceed the 250-wide buckets — the 4- and 8-conn results coincide,
    a vacuous gate), so this gate runs the mask-formula field
    ((row·31+col·17+seed·7)%97 // 20), whose anti-diagonal delta 14 <
    bucket 20 yields 2,512 diagonal merges on the 96x96 window (8,088
    regions at 4-conn vs 5,576 at 8-conn) — any missed or spurious
    diagonal merge changes the multiset and hash-fails."""
    from .operators import algebra as AL

    spec = SPEC
    px = (
        spark.range(96).select(F.col("id").alias("row"))
        .crossJoin(spark.range(96).select(F.col("id").alias("col")))
        .select("row", "col",
                (((F.col("row") * 31 + F.col("col") * 17
                   + F.lit(spec.seed * 7)) % 97) / 20)
                .cast("long").cast("double").alias("value"))
    )
    return AL.polygonize(px, connectivity=8, merge="distributed").select(
        F.col("value").cast("long").alias("value"),
        "n_cells", "min_row", "min_col", "max_row", "max_col",
    )


def sql_polygonize_8conn() -> str:
    spec = SPEC
    win = (f"win AS (SELECT r.range AS row, c.range AS col,\n"
           f"               (r.range * 31 + c.range * 17 + {spec.seed * 7}) % 97 // 20 AS value\n"
           f"        FROM range(96) r CROSS JOIN range(96) c)")
    return _cc_sql(SPEC, 96, 96, connectivity=8, win_cte=win)





def q_sieve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_sieve analog (algebra.sieve): regions under 3 cells merge
    into their largest neighbor over the dense 128×128 //250-quantized
    window (139 merges). The engine runs the GENERAL algorithm
    (region-graph rounds + merge-graph CC for small→small cascades);
    on THIS window one round with all-big winners reaches the fixpoint
    — a fact pinned by tests/test_sieve.py — so the EXACT oracle is a
    single relabel pass over the recursive-CC labeling: sizes,
    all-neighbor adjacency, arg_max(neighbor, (size, -id)) winner per
    small region, and the merged rows re-aggregated. Region ids are
    engine tokens and are dropped (the polygonize canonicalization)."""
    from .operators import algebra as AL

    spec = SPEC
    px = (
        spark.range(128).select(F.col("id").alias("row"))
        .crossJoin(spark.range(128).select(F.col("id").alias("col")))
        .select("row", "col",
                (((F.col("row") * 7919 + F.col("col") * 104729
                   + F.lit(spec.seed)) % 1997) / 250).cast("long")
                .alias("value"))
    )
    out = AL.sieve(px, threshold=3)
    return out.groupBy("region_id").agg(
        F.first("value").cast("long").alias("value"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.min("row").alias("min_row"), F.min("col").alias("min_col"),
        F.max("row").alias("max_row"), F.max("col").alias("max_col"),
    ).drop("region_id")


def sql_sieve() -> str:
    spec = SPEC
    return f"""WITH RECURSIVE
win AS (SELECT r.range AS row, c.range AS col,
               (r.range * 7919 + c.range * 104729 + {spec.seed}) % 1997 // 250 AS value
        FROM range(128) r CROSS JOIN range(128) c),
offs(dr, dc) AS (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)),
cand AS (SELECT a.row, a.col, a.value, a.row + o.dr AS r2, a.col + o.dc AS c2
         FROM win a CROSS JOIN offs o),
e AS MATERIALIZED (
  SELECT cand.row, cand.col, b.row AS r2, b.col AS c2
  FROM cand JOIN win b ON b.row = cand.r2 AND b.col = cand.c2 AND b.value = cand.value),
lab AS (
  SELECT row, col, row * 1000000 + col AS lbl FROM win
  UNION
  SELECT e.r2 AS row, e.c2 AS col, lab.lbl FROM lab JOIN e ON e.row = lab.row AND e.col = lab.col),
final AS (SELECT row, col, MIN(lbl) AS region FROM lab GROUP BY 1, 2),
j AS (SELECT win.row, win.col, win.value, final.region
      FROM win JOIN final ON final.row = win.row AND final.col = win.col),
sizes AS (SELECT region, CAST(COUNT(*) AS BIGINT) AS sz FROM j GROUP BY 1),
adj AS (
  SELECT DISTINCT f1.region AS a, f2.region AS b
  FROM cand JOIN win b2 ON b2.row = cand.r2 AND b2.col = cand.c2
  JOIN final f1 ON f1.row = cand.row AND f1.col = cand.col
  JOIN final f2 ON f2.row = b2.row AND f2.col = b2.col
  WHERE f1.region <> f2.region),
w AS (
  SELECT adj.a, arg_max(adj.b, sb.sz * 1000000000 - adj.b) AS wreg
  FROM adj JOIN sizes sa ON sa.region = adj.a
  JOIN sizes sb ON sb.region = adj.b
  WHERE sa.sz < 3
  GROUP BY adj.a),
relab AS (
  SELECT j.row, j.col, COALESCE(w.wreg, j.region) AS region
  FROM j LEFT JOIN w ON w.a = j.region),
rv AS (SELECT region, MIN(value) AS value FROM j GROUP BY 1)
SELECT CAST(rv.value AS BIGINT) AS value,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       MIN(relab.row) AS min_row, MIN(relab.col) AS min_col,
       MAX(relab.row) AS max_row, MAX(relab.col) AS max_col
FROM relab JOIN rv ON rv.region = relab.region
GROUP BY relab.region, rv.value"""


def q_polygonize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-GRID connected components with an exact recursive-CC oracle
    (sum(|region|^2) = 260k tuples keeps the DuckDB UNION recursion
    cheap). Rows canonicalized (engine-specific region ids dropped)."""
    from .operators import algebra as AL

    # quantize values to produce non-trivial equal-value regions
    px = _px(spark, SPEC).select(
        "row", "col", (F.col("value").cast("long") / 250).cast("long").alias("value")
    )
    # merge='distributed': the gated plan IS the 100-TB plan — the
    # cross-tile label merge runs executor-side (no driver union-find)
    return AL.polygonize(px, merge="distributed").select(
        F.col("value").cast("long").alias("value"),
        "n_cells", "min_row", "min_col", "max_row", "max_col",
    )


def sql_polygonize() -> str:
    return _cc_sql(SPEC, SPEC.height, SPEC.width)


# ---------------------------------------------------------------------------
# training-data pipeline queries (documents / embeddings tables, sf-scaled)
# ---------------------------------------------------------------------------

def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import dedup as DD

    g = DD.exact_dedup(_docs(spark, sf_dir), key_words=8)
    return g.select(
        "keeper_id",
        F.col("n_copies").cast("long").alias("n_copies"),
        F.array_join(F.col("member_ids"), ",").alias("members"),
    )


def sql_dedup_exact() -> str:
    return """WITH g AS (
  SELECT array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ') AS k,
         MIN(doc_id) AS keeper_id, CAST(COUNT(*) AS BIGINT) AS n_copies,
         array_to_string(list_sort(list(doc_id)), ',') AS members
  FROM documents GROUP BY 1)
SELECT keeper_id, n_copies, members FROM g"""


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import dedup as DD

    return DD.jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.5)


def sql_jaccard_pairs() -> str:
    return """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM toks),
sh AS (SELECT DISTINCT doc_id,
              w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] || ' ' || w[CAST(i AS INT) + 2] AS shingle
       FROM idx),
cnts AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY 1),
pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT doc_a, doc_b, inter,
       ROUND(CAST(inter AS DOUBLE) / (ca.nsh + cb.nsh - inter), 6) AS jaccard
FROM pairs JOIN cnts ca ON ca.doc_id = doc_a JOIN cnts cb ON cb.doc_id = doc_b
WHERE CAST(inter AS DOUBLE) / (ca.nsh + cb.nsh - inter) >= 0.5"""


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring near-duplication (Lee et al. 2021 criterion,
    SURVEY pipeline mandate): pairs sharing >= 2 exact 8-token windows
    with the longest shared span, via the md5-window inverted index +
    df-cap + gaps-and-islands run length.  DuckDB recomputes every
    window hash, the cap, and the island runs."""
    from .operators import dedup as DD

    return DD.substring_dup_pairs(_docs(spark, sf_dir), window=8,
                                  df_cap=50, min_windows=2)


def sql_substring_dedup() -> str:
    return """WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= 8),
wins AS (SELECT doc_id, CAST(unnest(range(0, len(w) - 7)) AS BIGINT) AS pos, w
         FROM toks),
keyed AS (SELECT doc_id, pos,
                 md5(array_to_string(w[CAST(pos + 1 AS INT):CAST(pos + 8 AS INT)], ' ')) AS wkey
          FROM wins),
keep AS (SELECT wkey FROM keyed GROUP BY wkey
         HAVING COUNT(DISTINCT doc_id) <= 50),
k2 AS (SELECT keyed.* FROM keyed JOIN keep USING (wkey)),
hits AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                a.pos AS pa, b.pos AS pb
         FROM k2 a JOIN k2 b ON a.wkey = b.wkey AND a.doc_id < b.doc_id),
runs AS (SELECT doc_a, doc_b, pa - pb AS d,
                pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                        ORDER BY pa) AS g
         FROM hits),
rc AS (SELECT doc_a, doc_b, d, g, COUNT(*) AS run
       FROM runs GROUP BY 1, 2, 3, 4),
spans AS (SELECT doc_a, doc_b, CAST(MAX(run) + 7 AS BIGINT) AS max_span_tokens
          FROM rc GROUP BY 1, 2),
nw AS (SELECT doc_a, doc_b, CAST(COUNT(DISTINCT pa) AS BIGINT) AS n_windows
       FROM hits GROUP BY 1, 2)
SELECT nw.doc_a, nw.doc_b, nw.n_windows, spans.max_span_tokens
FROM nw JOIN spans ON spans.doc_a = nw.doc_a AND spans.doc_b = nw.doc_b
WHERE nw.n_windows >= 2"""


def q_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup, exact-verified: 60-bit md5-token SimHash,
    4-band equi-join blocking (lossless for hamming <= 3 by
    pigeonhole), bit_count verify. Output EQUALS brute-force all-pairs
    hamming <= 3 — which is what the DuckDB oracle computes, so the
    whole signature + banding + verify pipeline is hash-gated."""
    from .operators import dedup as DD

    return DD.simhash_near_dup(_docs(spark, sf_dir), max_hamming=3, bands=4)


def sql_simhash_dedup() -> str:
    return """WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
th AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
bits AS (
  SELECT doc_id, r.range AS i,
         SUM(CASE WHEN (h >> CAST(r.range AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM th CROSS JOIN range(60) r GROUP BY 1, 2),
sig AS (
  SELECT doc_id,
         SUM(CASE WHEN s > 0 THEN 1::BIGINT << CAST(i AS INT) ELSE 0 END)::BIGINT AS simhash
  FROM bits GROUP BY 1)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical near-dup clustering (r6): the pipeline stage AFTER
    pair generation — near-dup similarity is not transitive, so
    survivors are picked per CONNECTED COMPONENT of the pair graph
    (simhash hamming<=3 pairs here), cluster_id = component-min
    doc_id, one canonical survivor each, singletons included.  The
    CC is the same pointer-jumping machinery the polygonize gates
    exercise, run on the edge set only.  EXACT oracle: DuckDB
    recomputes the signatures + pairs (sql_simhash_dedup's CTEs) and
    closes the graph with a recursive CTE (UNION-distinct reachable
    set; MIN over it is the component min)."""
    from .operators import dedup as DD

    docs = _docs(spark, sf_dir)
    pairs = DD.simhash_near_dup(docs, max_hamming=3, bands=4)
    return DD.dedup_clusters(docs, pairs)


def sql_dedup_clusters() -> str:
    return """WITH RECURSIVE toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
th AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
bits AS (
  SELECT doc_id, r.range AS i,
         SUM(CASE WHEN (h >> CAST(r.range AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM th CROSS JOIN range(60) r GROUP BY 1, 2),
sig AS (
  SELECT doc_id,
         SUM(CASE WHEN s > 0 THEN 1::BIGINT << CAST(i AS INT) ELSE 0 END)::BIGINT AS simhash
  FROM bits GROUP BY 1),
prs AS (
  SELECT a.doc_id AS da, b.doc_id AS db
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
edges AS (SELECT da AS a, db AS b FROM prs
          UNION ALL SELECT db AS a, da AS b FROM prs),
reach(n, m) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.n, e.b FROM reach r JOIN edges e ON e.a = r.m),
comp AS (SELECT n AS doc_id, MIN(m) AS cluster_id FROM reach GROUP BY n),
szs AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
        FROM comp GROUP BY 1)
SELECT c.doc_id, c.cluster_id, c.doc_id = c.cluster_id AS is_canonical,
       s.cluster_size
FROM comp c JOIN szs s USING (cluster_id)"""


def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH dedup, exact-verified: LSH candidates are
    re-scored with exact Jaccard, so the output EQUALS the brute-force
    jaccard_pairs whenever the banding curve has ~1 recall at the
    threshold. Here every true pair has jaccard >= 0.9, where 16 bands
    x 4 rows give recall 1 - (1-0.9^4)^16 ≈ 1 - 4e-8 (pytest-asserted
    equality on this data). The oracle is the brute-force SQL."""
    from .operators import dedup as DD

    return DD.minhash_dedup_pairs(
        _docs(spark, sf_dir), n=3, threshold=0.5, num_hashes=64, bands=16, rows=4
    )


def sql_minhash_dedup() -> str:
    return """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM toks),
sh AS (SELECT DISTINCT doc_id,
              w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] || ' ' || w[CAST(i AS INT) + 2] AS shingle
       FROM idx),
cnts AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY 1),
pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT doc_a, doc_b,
       ROUND(CAST(inter AS DOUBLE) / (ca.nsh + cb.nsh - inter), 6) AS jaccard
FROM pairs JOIN cnts ca ON ca.doc_id = doc_a JOIN cnts cb ON cb.doc_id = doc_b
WHERE CAST(inter AS DOUBLE) / (ca.nsh + cb.nsh - inter) >= 0.5"""


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC/incremental near-dup (dedup.incremental_minhash_pairs): the
    documents table split by doc_id % 4 into a NEW batch (25%) and the
    EXISTING corpus; the new batch probes the persistable band index
    (new×old) and itself (new×new) — the corpus is never re-paired
    against itself. Exact-Jaccard verification makes the output equal
    brute force at this data's jaccard>=0.9 pairs (the minhash_dedup
    recall argument). EXACT oracle: brute-force pairs filtered to the
    two kinds."""
    from .operators import dedup as DD

    docs = _docs(spark, sf_dir)
    new = docs.filter(F.col("doc_id") % 4 == 0)
    old = docs.filter(F.col("doc_id") % 4 != 0)
    return DD.incremental_minhash_pairs(
        new, old, n=3, threshold=0.5, num_hashes=64, bands=16, rows=4)


def sql_incremental_dedup() -> str:
    return """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM toks),
sh AS (SELECT DISTINCT doc_id,
              w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] || ' ' || w[CAST(i AS INT) + 2] AS shingle
       FROM idx),
cnts AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY 1),
pairs AS (
  SELECT CASE WHEN a.doc_id % 4 = 0 THEN a.doc_id ELSE b.doc_id END AS doc_a,
         CASE WHEN a.doc_id % 4 = 0 THEN b.doc_id ELSE a.doc_id END AS doc_b,
         CASE WHEN a.doc_id % 4 = 0 AND b.doc_id % 4 = 0
              THEN 'new_new' ELSE 'new_old' END AS kind,
         CAST(COUNT(*) AS BIGINT) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  WHERE a.doc_id % 4 = 0 OR b.doc_id % 4 = 0
  GROUP BY 1, 2, 3)
SELECT doc_a, doc_b,
       ROUND(CAST(inter AS DOUBLE) / (ca.nsh + cb.nsh - inter), 6) AS jaccard,
       kind
FROM pairs JOIN cnts ca ON ca.doc_id = doc_a JOIN cnts cb ON cb.doc_id = doc_b
WHERE CAST(inter AS DOUBLE) / (ca.nsh + cb.nsh - inter) >= 0.5"""


_SPLIT_FRACS = {"train": 0.90, "val": 0.05, "test": 0.05}


def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic layout-independent train/val/test split (Knuth
    hash thresholds — df.randomSplit would move rows on repartition):
    per-(split, source) counts + doc_id checksums, hash-exact."""
    from .operators import sampling as SA

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        SA.split(docs, "doc_id", _SPLIT_FRACS, salt=7)
        .groupBy("split", "source")
        .agg(F.count("doc_id").alias("n"),
             F.sum("doc_id").alias("id_sum"))
    )


def sql_train_split() -> str:
    from .operators import sampling as SA

    case = SA.split_sql("doc_id", _SPLIT_FRACS, salt=7)
    return f"""SELECT {case} AS split, source,
       CAST(COUNT(doc_id) AS BIGINT) AS n,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM documents GROUP BY 1, 2"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source deterministic cap (hash-ordered top-20): the
    class-balancing primitive of a training mix. The plan carries a
    map-side WindowGroupLimit, so the group exchange is bounded by
    cap x partitions, never the whole group."""
    from .operators import sampling as SA

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return SA.stratified_cap(docs, "source", "doc_id", cap=20, salt=3).select(
        "doc_id", "source", "lang"
    )


def sql_stratified_sample() -> str:
    from .operators import sampling as SA

    h = SA.hash_sql("doc_id", salt=3)
    return f"""WITH ranked AS (
  SELECT doc_id, source, lang,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY {h}, doc_id) AS r
  FROM documents)
SELECT doc_id, source, lang FROM ranked WHERE r <= 20"""


def q_event_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked interval join (stream-stream shape, batch parity):
    purchases x views of the same user within a 2h lookback."""
    from .streaming import events as EV

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return EV.attribution_join(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
    )


def sql_event_attribution() -> str:
    return """WITH v AS (
  SELECT user_id, ts AS view_ts, event_id AS view_id
  FROM events WHERE event_type = 'view'),
b AS (
  SELECT user_id, ts AS buy_ts, event_id AS buy_id, ROUND(value, 6) AS buy_value
  FROM events WHERE event_type = 'purchase')
SELECT b.buy_id, b.user_id, b.buy_ts, b.buy_value, v.view_id, v.view_ts,
       CAST(date_diff('second', v.view_ts, b.buy_ts) AS BIGINT) AS gap_s
FROM b JOIN v ON b.user_id = v.user_id
 AND v.view_ts <= b.buy_ts AND v.view_ts >= b.buy_ts - INTERVAL 2 HOUR"""


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import text as TX

    return TX.text_stats(_docs(spark, sf_dir)).drop("n_chars")


def sql_text_stats() -> str:
    return """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
SELECT doc_id,
       CAST(len(w) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\\s]+')) AS BIGINT) AS n_subtokens,
       CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
       ROUND(CAST(length(text) AS DOUBLE) / len(w), 6) AS avg_token_len,
       ROUND(CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6) AS distinct_ratio
FROM t"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring + stopword-vote language-ID (the web-corpus
    filter pair) as pure JVM Column expressions, oracle-checked."""
    from .operators import text as TX

    docs = _docs(spark, sf_dir)
    q = TX.quality_score(docs)
    l = TX.lang_id(docs)
    return q.join(l, "doc_id")


def sql_text_quality() -> str:
    from .operators.text import STOPWORDS

    hit_cols = []
    for lang, sw in sorted(STOPWORDS.items()):
        terms = " + ".join(
            f"(CASE WHEN list_contains(w, '{s}') THEN 1 ELSE 0 END)" for s in sw
        )
        hit_cols.append(f"({terms}) AS h_{lang}")
    langs = sorted(STOPWORDS)
    g = "GREATEST(" + ", ".join(f"h_{x}" for x in langs) + ")"
    pick = " ".join(
        f"WHEN h_{x} = {g} THEN '{x}'" for x in langs[:-1]
    )
    return f"""WITH t AS (
  SELECT doc_id, lang AS label_lang, string_split(text, ' ') AS w FROM documents),
s AS (
  SELECT doc_id, label_lang,
         ROUND((CAST(len(list_distinct(w)) AS DOUBLE) / len(w))
               * LEAST(len(w) / 64.0, 1.0), 6) AS quality,
         {", ".join(hit_cols)}
  FROM t)
SELECT doc_id, quality, label_lang,
       CASE WHEN {g} = 0 THEN 'und' {pick} ELSE '{langs[-1]}' END AS pred_lang
FROM s"""


def q_local_geary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import autocorr as AC

    px = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("value"))
    return AC.local_geary(px)


def sql_local_geary() -> str:
    from .operators import autocorr as AC

    return AC.local_geary_sql(synth.pixel_sql(SPEC))


def q_local_moran(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import autocorr as AC

    px = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("value"))
    return AC.local_moran(px)


def sql_local_moran() -> str:
    from .operators import autocorr as AC

    return AC.local_moran_sql(synth.pixel_sql(SPEC))


_PERM_N = 9
_PERM_SEED = 97


def q_local_moran_perm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell LISA conditional-permutation p_sim (reference
    Moran_Local(permutations=), georasters.py:1310-1341) — seeded
    modular draws, exact integer comparisons, esda two-sided fold."""
    from .operators import autocorr as AC

    px = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("value"))
    return AC.local_permutation_test(px, n_perm=_PERM_N, seed=_PERM_SEED)


def sql_local_moran_perm() -> str:
    from .operators import autocorr as AC

    return AC.local_permutation_sql(
        synth.pixel_sql(SPEC), _t1_valid_count(), n_perm=_PERM_N,
        seed=_PERM_SEED)


def q_gstar_local_perm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell G*-local conditional-permutation p_sim (reference
    G_Local(permutations=), georasters.py:1343-1378) on the same
    machinery with the Σ-neighbors comparison."""
    from .operators import autocorr as AC

    px = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("value"))
    return AC.local_permutation_test(px, n_perm=_PERM_N, seed=_PERM_SEED,
                                     stat="gstar")


def sql_gstar_local_perm() -> str:
    from .operators import autocorr as AC

    return AC.local_permutation_sql(
        synth.pixel_sql(SPEC), _t1_valid_count(), n_perm=_PERM_N,
        seed=_PERM_SEED, stat="gstar")


def _t1_valid_count() -> int:
    import numpy as np

    full = synth.stitched_array(SPEC)
    return int((full != SPEC.ndv).sum())


def q_moran_perm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import autocorr as AC

    px = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("value"))
    return AC.moran_permutation_test(px, n_perm=_PERM_N, seed=_PERM_SEED)


def sql_moran_perm() -> str:
    from .operators.autocorr import QUEEN, permutation_params

    n = _t1_valid_count()
    perms = permutation_params(n, _PERM_N, _PERM_SEED)
    pvals = ", ".join(f"({p}, {a}, {b})" for p, a, b in perms)
    offsets = ", ".join(f"({dr}, {dc})" for dr, dc in QUEEN)
    return f"""WITH {synth.pixel_sql(SPEC)},
offsets(dr, dc) AS (VALUES {offsets}),
perms(p, amul, badd) AS (VALUES {pvals}),
ranked AS (SELECT row, col, value, ROW_NUMBER() OVER (ORDER BY row, col) - 1 AS k FROM px),
cand AS (SELECT a.k AS ka, a.row + o.dr AS r2, a.col + o.dc AS c2 FROM ranked a CROSS JOIN offsets o),
pairs AS (SELECT cand.ka, b.k AS kb FROM cand JOIN ranked b ON b.row = cand.r2 AND b.col = cand.c2),
pp AS (SELECT pe.p, (pairs.ka * pe.amul + pe.badd) % {n} AS pka, (pairs.kb * pe.amul + pe.badd) % {n} AS pkb
       FROM pairs CROSS JOIN perms pe),
j AS (SELECT pp.p, va.value AS va, vb.value AS vb
      FROM pp JOIN ranked va ON va.k = pp.pka JOIN ranked vb ON vb.k = pp.pkb),
agg AS (SELECT p, CAST(SUM(va*vb) AS BIGINT) AS p_ab, CAST(SUM(va) AS BIGINT) AS p_a,
               CAST(SUM(vb) AS BIGINT) AS p_b, CAST(COUNT(*) AS BIGINT) AS s0
        FROM j GROUP BY p),
scal AS (SELECT CAST(COUNT(value) AS BIGINT) AS n, CAST(SUM(value) AS BIGINT) AS s,
                CAST(SUM(value*value) AS BIGINT) AS q FROM px),
nums AS (SELECT agg.p,
                CAST(scal.n AS HUGEINT)*scal.n*agg.p_ab
                - CAST(scal.n AS HUGEINT)*scal.s*(agg.p_a + agg.p_b)
                + CAST(agg.s0 AS HUGEINT)*scal.s*scal.s AS num,
                agg.s0, scal.n, scal.s, scal.q
         FROM agg, scal),
obs AS (SELECT num AS num_obs, s0, n, s, q FROM nums WHERE p = 0),
ge AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_ge FROM nums, obs WHERE nums.p > 0 AND nums.num >= obs.num_obs)
SELECT (CAST(obs.n AS DOUBLE) / CAST(obs.s0 AS DOUBLE))
       * (CAST(obs.num_obs AS DOUBLE)
          / CAST(CAST(obs.n AS HUGEINT)*obs.n*obs.q - CAST(obs.n AS HUGEINT)*obs.s*obs.s AS DOUBLE)) AS i_obs,
       CAST({_PERM_N} AS BIGINT) AS n_perm,
       ge.n_ge AS n_ge,
       CAST(ge.n_ge + 1 AS DOUBLE) / ({_PERM_N} + 1) AS p_sim
FROM obs, ge"""


def q_moran_perm_rowstd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r6: Moran permutation test under the reference's DEFAULT
    row-standardized weights (esda transformation='r'): the per-pair
    weight 840/deg(i) rides the fixed graph while values permute, so
    the 840-scaled pair sums stay exact integers."""
    from .operators import autocorr as AC

    px = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("value"))
    return AC.moran_permutation_test(px, n_perm=_PERM_N, seed=_PERM_SEED,
                                     transform="r")


def sql_moran_perm_rowstd() -> str:
    from .operators.autocorr import QUEEN, permutation_params

    n = _t1_valid_count()
    perms = permutation_params(n, _PERM_N, _PERM_SEED)
    pvals = ", ".join(f"({p}, {a}, {b})" for p, a, b in perms)
    offsets = ", ".join(f"({dr}, {dc})" for dr, dc in QUEEN)
    return f"""WITH {synth.pixel_sql(SPEC)},
offsets(dr, dc) AS (VALUES {offsets}),
perms(p, amul, badd) AS (VALUES {pvals}),
ranked AS (SELECT row, col, value, ROW_NUMBER() OVER (ORDER BY row, col) - 1 AS k FROM px),
cand AS (SELECT a.k AS ka, a.row + o.dr AS r2, a.col + o.dc AS c2 FROM ranked a CROSS JOIN offsets o),
pairs AS (SELECT cand.ka, b.k AS kb FROM cand JOIN ranked b ON b.row = cand.r2 AND b.col = cand.c2),
pairsw AS (SELECT ka, kb, 840 // COUNT(*) OVER (PARTITION BY ka) AS w840 FROM pairs),
pp AS (SELECT pe.p, pairsw.w840,
              (pairsw.ka * pe.amul + pe.badd) % {n} AS pka,
              (pairsw.kb * pe.amul + pe.badd) % {n} AS pkb
       FROM pairsw CROSS JOIN perms pe),
scal AS (SELECT CAST(COUNT(value) AS BIGINT) AS n, CAST(SUM(value) AS BIGINT) AS s,
                CAST(SUM(value*value) AS BIGINT) AS q FROM px),
j AS (SELECT pp.p, pp.w840, pp.pka, va.value AS va, vb.value AS vb
      FROM pp JOIN ranked va ON va.k = pp.pka JOIN ranked vb ON vb.k = pp.pkb),
agg AS (SELECT j.p,
               SUM(CAST(j.w840 AS HUGEINT)
                   * (CAST(scal.n AS HUGEINT) * j.va - scal.s)
                   * (CAST(scal.n AS HUGEINT) * j.vb - scal.s)) AS a840,
               CAST(COUNT(DISTINCT j.pka) AS BIGINT) AS nw
        FROM j, scal GROUP BY j.p),
obs AS (SELECT a840 AS num_obs, nw FROM agg WHERE p = 0),
ge AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_ge FROM agg, obs WHERE agg.p > 0 AND agg.a840 >= obs.num_obs)
SELECT (CAST(scal.n AS DOUBLE) / obs.nw)
       * ((CAST(obs.num_obs AS DOUBLE) / 840.0)
          / CAST(CAST(scal.n AS HUGEINT)*scal.n*scal.q - CAST(scal.n AS HUGEINT)*scal.s*scal.s AS DOUBLE)) AS i_obs,
       CAST({_PERM_N} AS BIGINT) AS n_perm,
       ge.n_ge AS n_ge,
       CAST(ge.n_ge + 1 AS DOUBLE) / ({_PERM_N} + 1) AS p_sim
FROM obs, ge, scal"""


def q_geary_perm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r5: global Geary C permutation test (reference pysal_Geary
    passes permutations= to esda.Geary, georasters.py:1271-1308) —
    exact integer comparison of pair square-difference sums under the
    seeded modular permutations."""
    from .operators import autocorr as AC

    px = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("value"))
    return AC.geary_permutation_test(px, n_perm=_PERM_N, seed=_PERM_SEED)


def sql_geary_perm() -> str:
    from .operators.autocorr import QUEEN, permutation_params

    n = _t1_valid_count()
    perms = permutation_params(n, _PERM_N, _PERM_SEED)
    pvals = ", ".join(f"({p}, {a}, {b})" for p, a, b in perms)
    offsets = ", ".join(f"({dr}, {dc})" for dr, dc in QUEEN)
    return f"""WITH {synth.pixel_sql(SPEC)},
offsets(dr, dc) AS (VALUES {offsets}),
perms(p, amul, badd) AS (VALUES {pvals}),
ranked AS (SELECT row, col, value, ROW_NUMBER() OVER (ORDER BY row, col) - 1 AS k FROM px),
cand AS (SELECT a.k AS ka, a.row + o.dr AS r2, a.col + o.dc AS c2 FROM ranked a CROSS JOIN offsets o),
pairs AS (SELECT cand.ka, b.k AS kb FROM cand JOIN ranked b ON b.row = cand.r2 AND b.col = cand.c2),
pp AS (SELECT pe.p, (pairs.ka * pe.amul + pe.badd) % {n} AS pka, (pairs.kb * pe.amul + pe.badd) % {n} AS pkb
       FROM pairs CROSS JOIN perms pe),
j AS (SELECT pp.p, va.value AS va, vb.value AS vb
      FROM pp JOIN ranked va ON va.k = pp.pka JOIN ranked vb ON vb.k = pp.pkb),
agg AS (SELECT p, CAST(SUM((va - vb) * (va - vb)) AS BIGINT) AS p_d2,
               CAST(COUNT(*) AS BIGINT) AS s0
        FROM j GROUP BY p),
scal AS (SELECT CAST(COUNT(value) AS BIGINT) AS n, CAST(SUM(value) AS BIGINT) AS s,
                CAST(SUM(value*value) AS BIGINT) AS q FROM px),
obs AS (SELECT agg.p_d2 AS num_obs, agg.s0, scal.n, scal.s, scal.q
        FROM agg, scal WHERE agg.p = 0),
ge AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_ge
       FROM agg, obs WHERE agg.p > 0 AND agg.p_d2 >= obs.num_obs)
SELECT (CAST(obs.n - 1 AS DOUBLE) * CAST(obs.num_obs AS DOUBLE) * CAST(obs.n AS DOUBLE))
       / (2.0 * CAST(obs.s0 AS DOUBLE)
          * CAST(CAST(obs.n AS HUGEINT)*obs.q - CAST(obs.s AS HUGEINT)*obs.s AS DOUBLE)) AS c_obs,
       CAST({_PERM_N} AS BIGINT) AS n_perm,
       ge.n_ge AS n_ge,
       CAST(ge.n_ge + 1 AS DOUBLE) / ({_PERM_N} + 1) AS p_sim
FROM obs, ge"""


def q_geary_perm_rowstd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r6: Geary permutation test under row-standardized weights (the
    esda default transformation='r') — same fixed-graph 840/deg(i)
    weighting as moran_perm_rowstd, exact-integer C840 comparison."""
    from .operators import autocorr as AC

    px = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("value"))
    return AC.geary_permutation_test(px, n_perm=_PERM_N, seed=_PERM_SEED,
                                     transform="r")


def sql_geary_perm_rowstd() -> str:
    from .operators.autocorr import QUEEN, permutation_params

    n = _t1_valid_count()
    perms = permutation_params(n, _PERM_N, _PERM_SEED)
    pvals = ", ".join(f"({p}, {a}, {b})" for p, a, b in perms)
    offsets = ", ".join(f"({dr}, {dc})" for dr, dc in QUEEN)
    return f"""WITH {synth.pixel_sql(SPEC)},
offsets(dr, dc) AS (VALUES {offsets}),
perms(p, amul, badd) AS (VALUES {pvals}),
ranked AS (SELECT row, col, value, ROW_NUMBER() OVER (ORDER BY row, col) - 1 AS k FROM px),
cand AS (SELECT a.k AS ka, a.row + o.dr AS r2, a.col + o.dc AS c2 FROM ranked a CROSS JOIN offsets o),
pairs AS (SELECT cand.ka, b.k AS kb FROM cand JOIN ranked b ON b.row = cand.r2 AND b.col = cand.c2),
pairsw AS (SELECT ka, kb, 840 // COUNT(*) OVER (PARTITION BY ka) AS w840 FROM pairs),
pp AS (SELECT pe.p, pairsw.w840,
              (pairsw.ka * pe.amul + pe.badd) % {n} AS pka,
              (pairsw.kb * pe.amul + pe.badd) % {n} AS pkb
       FROM pairsw CROSS JOIN perms pe),
j AS (SELECT pp.p, pp.w840, pp.pka, va.value AS va, vb.value AS vb
      FROM pp JOIN ranked va ON va.k = pp.pka JOIN ranked vb ON vb.k = pp.pkb),
agg AS (SELECT p, SUM(CAST(w840 AS HUGEINT) * (va - vb) * (va - vb)) AS c840,
               CAST(COUNT(DISTINCT pka) AS BIGINT) AS nw
        FROM j GROUP BY p),
scal AS (SELECT CAST(COUNT(value) AS BIGINT) AS n, CAST(SUM(value) AS BIGINT) AS s,
                CAST(SUM(value*value) AS BIGINT) AS q FROM px),
obs AS (SELECT agg.c840 AS num_obs, agg.nw, scal.n, scal.s, scal.q
        FROM agg, scal WHERE agg.p = 0),
ge AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_ge
       FROM agg, obs WHERE agg.p > 0 AND agg.c840 >= obs.num_obs)
SELECT (CAST(obs.n - 1 AS DOUBLE) / (2.0 * obs.nw))
       * ((CAST(obs.num_obs AS DOUBLE) / 840.0)
          / (CAST(CAST(obs.n AS HUGEINT)*obs.q - CAST(obs.s AS HUGEINT)*obs.s AS DOUBLE) / obs.n)) AS c_obs,
       CAST({_PERM_N} AS BIGINT) AS n_perm,
       ge.n_ge AS n_ge,
       CAST(ge.n_ge + 1 AS DOUBLE) / ({_PERM_N} + 1) AS p_sim
FROM obs, ge"""


def q_gamma_joincount_perm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r6s5: the Gamma + BB-join-count permutation tests (the esda
    DEFAULT permutations= behavior of the reference's pysal_Gamma /
    pysal_Join_Counts, georasters.py:1190-1229) in one pair-frame
    pass; both statistics are exact integer pair sums under the same
    seeded modular permutations as moran_permutations."""
    from .operators import autocorr as AC

    px = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("value"))
    return AC.gamma_joincount_permutation_test(
        px, bin_threshold=_BIN_T, n_perm=_PERM_N, seed=_PERM_SEED)


def sql_gamma_joincount_perm() -> str:
    from .operators.autocorr import QUEEN, permutation_params

    n = _t1_valid_count()
    perms = permutation_params(n, _PERM_N, _PERM_SEED)
    pvals = ", ".join(f"({p}, {a}, {b})" for p, a, b in perms)
    offsets = ", ".join(f"({dr}, {dc})" for dr, dc in QUEEN)
    return f"""WITH {synth.pixel_sql(SPEC)},
offsets(dr, dc) AS (VALUES {offsets}),
perms(p, amul, badd) AS (VALUES {pvals}),
ranked AS (SELECT row, col, value, ROW_NUMBER() OVER (ORDER BY row, col) - 1 AS k FROM px),
cand AS (SELECT a.k AS ka, a.row + o.dr AS r2, a.col + o.dc AS c2 FROM ranked a CROSS JOIN offsets o),
pairs AS (SELECT cand.ka, b.k AS kb FROM cand JOIN ranked b ON b.row = cand.r2 AND b.col = cand.c2),
pp AS (SELECT pe.p, (pairs.ka * pe.amul + pe.badd) % {n} AS pka, (pairs.kb * pe.amul + pe.badd) % {n} AS pkb
       FROM pairs CROSS JOIN perms pe),
j AS (SELECT pp.p, va.value AS va, vb.value AS vb
      FROM pp JOIN ranked va ON va.k = pp.pka JOIN ranked vb ON vb.k = pp.pkb),
agg AS (SELECT p, CAST(SUM(va*vb) AS BIGINT) AS g,
               CAST(SUM(CASE WHEN va >= {_BIN_T} AND vb >= {_BIN_T} THEN 1 ELSE 0 END) AS BIGINT) AS bb2
        FROM j GROUP BY p),
obs AS (SELECT g AS g_obs, bb2 AS bb2_obs FROM agg WHERE p = 0),
ge AS (SELECT CAST(SUM(CASE WHEN agg.g >= obs.g_obs THEN 1 ELSE 0 END) AS BIGINT) AS g_ge,
              CAST(SUM(CASE WHEN agg.bb2 >= obs.bb2_obs THEN 1 ELSE 0 END) AS BIGINT) AS bb_ge
       FROM agg, obs WHERE agg.p > 0)
SELECT obs.g_obs AS gamma_obs, ge.g_ge AS gamma_n_ge,
       CAST(ge.g_ge + 1 AS DOUBLE) / ({_PERM_N} + 1) AS gamma_p_sim,
       obs.bb2_obs // 2 AS bb_obs, ge.bb_ge AS bb_n_ge,
       CAST(ge.bb_ge + 1 AS DOUBLE) / ({_PERM_N} + 1) AS bb_p_sim,
       CAST({_PERM_N} AS BIGINT) AS n_perm
FROM obs, ge"""


def q_adpcm_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r6: IMA/DVI ADPCM audio (WAV format 0x11, sources/adpcm.py) end
    to end: 12 deterministic int16 clips encode to 4-bit ADPCM blocks
    (101 samples/block so every clip crosses block restarts with the
    step index carried over), ride the real WAV container, and decode
    back through the multimodal 'wav' dispatch.  ADPCM is lossy but
    the encode→decode chain is a DETERMINISTIC integer recurrence —
    the decoder output IS the encoder's predictor chain — so the gate
    is hash-exact: a DuckDB RECURSIVE CTE replays the quantize/
    reconstruct/index-walk per sample and must reproduce Σdec and
    Σdec² bit-for-bit."""
    import pandas as pd

    from .operators import multimodal as MM
    from .sources import adpcm

    def gen(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for cid_ in pdf["id"].tolist():
                v = int(cid_)
                n = 400 + 50 * (v % 5)
                i = np.arange(n, dtype=np.int64)
                s = ((i * i * 7 + i * 31 + v * 101) % 65536 - 32768).astype(np.int16)
                buf = adpcm.encode_wav_adpcm(s, 8000, samples_per_block=101)
                dec, rate = MM.decode_audio(buf, "wav")
                d = dec.astype(np.int64)
                rows.append({
                    "clip_id": v, "n_samples": int(len(d)), "rate": int(rate),
                    "sum_dec": int(d.sum()),
                    "energy": int((d * d).sum()),
                })
            yield pd.DataFrame(rows, columns=[
                "clip_id", "n_samples", "rate", "sum_dec", "energy"])

    return spark.range(12).repartition(4).mapInPandas(
        gen, schema="clip_id long, n_samples long, rate long, "
                    "sum_dec long, energy long")


def sql_adpcm_audio() -> str:
    from .sources import adpcm

    spb = 101
    steps_vals = ", ".join(
        f"({i}, {int(v)})" for i, v in enumerate(adpcm.STEP_TABLE))
    idx_vals = ", ".join(
        f"({i}, {int(v)})" for i, v in enumerate([-1, -1, -1, -1, 2, 4, 6, 8]))
    return f"""
WITH RECURSIVE
clips AS (SELECT CAST(v.range AS BIGINT) AS v, 400 + 50 * (v.range % 5) AS n FROM range(12) v),
smp AS (SELECT c.v, CAST(i.range AS BIGINT) AS i,
               (i.range * i.range * 7 + i.range * 31 + c.v * 101) % 65536 - 32768 AS s
        FROM clips c CROSS JOIN range(650) i WHERE i.range < c.n),
steps(si, step) AS (VALUES {steps_vals}),
itab(low3, adj) AS (VALUES {idx_vals}),
-- decoded[i] == encoder predictor after step i; block starts (i % spb
-- = 0) re-seed the predictor from the true sample (stored int16 in the
-- 4-byte block header) and CARRY the step index — sources/adpcm.py
chain(v, i, pred, idx) AS (
  SELECT v, i, s, 0 FROM smp WHERE i = 0
  UNION ALL
  SELECT q.v, q.i,
         CASE WHEN q.blockstart THEN q.s ELSE q.npred END,
         CASE WHEN q.blockstart THEN q.idx
              ELSE LEAST(88, GREATEST(0, q.idx + it.adj)) END
  FROM (
    SELECT c.v, smp.i, smp.s, c.idx,
           smp.i % {spb} = 0 AS blockstart,
           st.step AS step,
           smp.s - c.pred AS delta,
           ABS(smp.s - c.pred) >= st.step AS b2,
           ABS(smp.s - c.pred) - CASE WHEN ABS(smp.s - c.pred) >= st.step THEN st.step ELSE 0 END AS d1,
           d1 >= (step >> 1) AS b1,
           d1 - CASE WHEN b1 THEN step >> 1 ELSE 0 END AS d2,
           d2 >= (step >> 2) AS b0,
           (step >> 3) + CASE WHEN b2 THEN step ELSE 0 END
                       + CASE WHEN b1 THEN step >> 1 ELSE 0 END
                       + CASE WHEN b0 THEN step >> 2 ELSE 0 END AS diff,
           LEAST(32767, GREATEST(-32768,
             c.pred + CASE WHEN delta < 0 THEN -diff ELSE diff END)) AS npred,
           CASE WHEN b2 THEN 4 ELSE 0 END + CASE WHEN b1 THEN 2 ELSE 0 END
             + CASE WHEN b0 THEN 1 ELSE 0 END AS low3
    FROM chain c JOIN smp ON smp.v = c.v AND smp.i = c.i + 1
    JOIN steps st ON st.si = c.idx
  ) q JOIN itab it ON it.low3 = q.low3
)
SELECT v AS clip_id, CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(8000 AS BIGINT) AS rate,
       CAST(SUM(pred) AS BIGINT) AS sum_dec,
       CAST(SUM(pred * pred) AS BIGINT) AS energy
FROM chain GROUP BY v"""


def q_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed event rollup (batch form of streaming/events.py):
    6-hour epoch buckets, per-type aggregates + JSON prop extraction."""
    # pin UTC: the driver's session TZ is unknown, and unix_timestamp of
    # a (possibly NTZ) parquet timestamp is session-TZ-dependent, while
    # the DuckDB oracle's epoch() is UTC-naive
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    bucket = (F.floor(F.unix_timestamp("ts") / 21600) * 21600).cast("long")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy(bucket.alias("win_epoch"), "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum(k).cast("long").alias("sum_k"),
    )


def sql_event_rollup() -> str:
    return """SELECT CAST(FLOOR(epoch(ts) / 21600) * 21600 AS BIGINT) AS win_epoch,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 4) AS sum_value,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
FROM events GROUP BY 1, 2"""


_ANN_K = 5
_ANN_NQ = 10


def q_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import similarity as SM

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < _ANN_NQ)
    return SM.brute_force_topk(emb, queries, k=_ANN_K)


def sql_ann_cosine() -> str:
    return f"""WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         ROUND(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))), 6) AS cos
  FROM embeddings c CROSS JOIN embeddings q
  WHERE q.vec_id < {_ANN_NQ} AND c.vec_id <> q.vec_id),
ranked AS (
  SELECT query_id, vec_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS sim_rank
  FROM scored)
SELECT query_id, vec_id, cos, sim_rank FROM ranked WHERE sim_rank <= {_ANN_K}"""


def q_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN end-to-end through the oracle: with
    probe_hamming == bits every bucket is probed, so the signature +
    multi-probe + exact-rescore machinery provably equals brute force
    and the brute-force SQL is an exact oracle for it (partial-probe
    recall stays pytest-gated, same pattern as ivf_ann)."""
    from .operators import similarity as SM

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < _ANN_NQ)
    return SM.lsh_topk(emb, queries, k=_ANN_K, bits=6, probe_hamming=6,
                       tables=1, dim=64)


def sql_lsh_ann() -> str:
    return sql_ann_cosine()


def q_quantized_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 int8-quantized cosine top-k: per-vector symmetric scale,
    HALF_EVEN codes, integer-dot scores (scales cancel) — the whole
    quantize -> int-dot -> rank pipeline is deterministic, so DuckDB
    recomputes it bit-for-bit (round_even == F.bround)."""
    from .operators import similarity as SM

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return SM.quantized_topk(emb, emb.filter(F.col("vec_id") < _ANN_NQ), k=_ANN_K)


def sql_quantized_ann() -> str:
    return f"""WITH sc AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         greatest(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y)), 'max') / 127.0,
                  1e-30) AS s
  FROM embeddings),
codes AS (
  SELECT vec_id, list_transform(e, x -> round_even(x / s, 0)) AS c FROM sc),
norm AS (
  SELECT vec_id, c, sqrt(list_dot_product(c, c)) AS n2 FROM codes),
scored AS (
  SELECT q.vec_id AS query_id, d.vec_id,
         ROUND(list_dot_product(d.c, q.c) / (d.n2 * q.n2), 6) AS qcos
  FROM norm d CROSS JOIN norm q
  WHERE q.vec_id < {_ANN_NQ} AND d.vec_id <> q.vec_id
    AND d.n2 > 0 AND q.n2 > 0),
ranked AS (
  SELECT query_id, vec_id, qcos,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY qcos DESC, vec_id) AS sim_rank
  FROM scored)
SELECT query_id, vec_id, qcos, sim_rank FROM ranked WHERE sim_rank <= {_ANN_K}"""


_IVF_CLUSTERS = 8
_PQ_M = 4
_PQ_K = 16


def q_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC search (similarity.pq_fit/pq_encode/
    pq_topk): 64-dim embeddings split into 4×16-dim subspaces, 16
    codewords each; the corpus scans as 4-byte codes, queries build
    exact LUTs and rank by integer micro-unit ADC distance. The gate
    uses the iters=0 init codebook (codewords = the 16 lowest-id
    vectors' subvectors) so EVERY stage — codebook, encode argmin,
    LUT, sum, rank — is re-derived exactly in SQL; kmeans-fitted books
    (iters>0) are recall-pytested."""
    from .operators import similarity as SM

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = SM.pq_fit(emb, m=_PQ_M, k=_PQ_K, iters=0)
    queries = emb.filter(F.col("vec_id") < _ANN_NQ)
    return SM.pq_topk(emb, queries, books, k=_ANN_K)


def sql_pq_ann() -> str:
    sub = 64 // _PQ_M
    return f"""WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cw AS (
  SELECT s.range AS s, e.vec_id AS j,
         list_slice(e.v, CAST(s.range * {sub} + 1 AS INT),
                    CAST(s.range * {sub} + {sub} AS INT)) AS c
  FROM e CROSS JOIN range({_PQ_M}) s WHERE e.vec_id < {_PQ_K}),
subv AS (
  SELECT e.vec_id, s.range AS s,
         list_slice(e.v, CAST(s.range * {sub} + 1 AS INT),
                    CAST(s.range * {sub} + {sub} AS INT)) AS x
  FROM e CROSS JOIN range({_PQ_M}) s),
dists AS (
  SELECT subv.vec_id, subv.s, cw.j,
         list_sum(list_transform(list_zip(subv.x, cw.c),
                  p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
  FROM subv JOIN cw ON cw.s = subv.s),
codes AS (
  SELECT vec_id, s, arg_min(j, d2) AS code
  FROM dists GROUP BY 1, 2),
lut AS (
  SELECT d.vec_id AS query_id, d.s, d.j,
         CAST(round_even(d.d2 * 1000000, 0) AS BIGINT) AS du
  FROM dists d WHERE d.vec_id < {_ANN_NQ}),
adc AS (
  SELECT lut.query_id, codes.vec_id, CAST(SUM(lut.du) AS BIGINT) AS d2_u6
  FROM codes JOIN lut ON lut.s = codes.s AND lut.j = codes.code
  WHERE codes.vec_id <> lut.query_id
  GROUP BY 1, 2),
ranked AS (
  SELECT query_id, vec_id, d2_u6,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY d2_u6, vec_id) AS BIGINT) AS sim_rank
  FROM adc)
SELECT query_id, vec_id, d2_u6, sim_rank FROM ranked WHERE sim_rank <= {_ANN_K}"""


def q_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN end-to-end through the oracle: deterministic k-means
    coarse quantizer + cluster-probed exact re-scoring. Probing ALL
    clusters makes the result provably equal to brute force, so the
    brute-force SQL is an exact oracle for the entire kmeans + inverted
    -file + rescore machinery (partial-probe recall is pytest-gated)."""
    from .operators import similarity as SM

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = SM.kmeans_fit(emb, k=_IVF_CLUSTERS, iters=4)
    queries = emb.filter(F.col("vec_id") < _ANN_NQ)
    return SM.ivf_topk(emb, queries, cents, k=_ANN_K, nprobe=_IVF_CLUSTERS)


def sql_ivf_ann() -> str:
    return sql_ann_cosine()


def q_zonal_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-zone ranking of zonal stats (SURVEY §2.7: window over the
    stats output) — zones ordered by zsum descending."""
    zs = q_zonal_stats(spark, sf_dir)
    w = W.orderBy(F.desc("zsum"), "zone_id")
    return zs.select(
        "zone_id", "zsum", "zmean",
        F.row_number().over(w).cast("long").alias("zrank"),
        F.round(F.col("zsum") / F.sum("zsum").over(W.partitionBy()), 6).alias("share"),
    )


def sql_zonal_rank() -> str:
    inner = sql_zonal_stats()
    return f"""WITH zs AS ({inner})
SELECT zone_id, zsum, zmean,
       CAST(ROW_NUMBER() OVER (ORDER BY zsum DESC, zone_id) AS BIGINT) AS zrank,
       ROUND(CAST(zsum AS DOUBLE) / SUM(zsum) OVER (), 6) AS share
FROM zs"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: every purchase event gets the most recent view
    at-or-before it by the same user (point-in-time feature lookup).
    Timestamps compared as exact epoch microseconds."""
    from .operators.temporal import asof_join

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # parquet ts is TIMESTAMP_NTZ: cast through TIMESTAMP under the UTC
    # session TZ so unix_micros == DuckDB's naive epoch_us
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"), "value"
    )
    left = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "t",
        F.round("value", 4).alias("purchase_value"),
    )
    right = ev.filter(F.col("event_type") == "view").select(
        "user_id", "t", F.col("event_id").alias("view_id")
    )
    return asof_join(left, right, key="user_id", ts="t", right_cols=("view_id",))


def sql_asof_join() -> str:
    return """WITH ev AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS t, value FROM events),
l AS (SELECT event_id AS purchase_id, user_id, t, ROUND(value, 4) AS purchase_value
      FROM ev WHERE event_type = 'purchase'),
r AS (SELECT user_id, t, event_id AS view_id FROM ev WHERE event_type = 'view'),
m AS (
  SELECT l.purchase_id, l.user_id, l.t, l.purchase_value,
         r.view_id, r.t AS asof_ts,
         ROW_NUMBER() OVER (PARTITION BY l.purchase_id
                            ORDER BY r.t DESC, r.view_id DESC) AS rn
  FROM l LEFT JOIN r ON r.user_id = l.user_id AND r.t <= l.t)
SELECT purchase_id, user_id, t, purchase_value,
       view_id AS asof_view_id, asof_ts, t - asof_ts AS gap
FROM m WHERE rn = 1"""


_SESSION_GAP_S = 1800


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the events stream (lag + cumulative
    session counter): per session — user, start/end epoch, n, value."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")  # match oracle epoch()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("t"), "value"
    )
    w = W.partitionBy("user_id").orderBy("t", "value")
    lag_t = F.lag("t").over(w)
    gap = F.when(
        lag_t.isNull() | ((F.col("t") - lag_t) > _SESSION_GAP_S), 1
    ).otherwise(0)
    s = ev.withColumn("new_sess", gap).withColumn(
        "sess_no", F.sum("new_sess").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return s.groupBy("user_id", "sess_no").agg(
        F.min("t").cast("long").alias("sess_start"),
        F.max("t").cast("long").alias("sess_end"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sess_value"),
    ).withColumn("sess_no", F.col("sess_no").cast("long"))


def sql_sessionize() -> str:
    return f"""WITH ev AS (
  SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS t, value FROM events),
flags AS (
  SELECT user_id, t, value,
         CASE WHEN t - LAG(t) OVER (PARTITION BY user_id ORDER BY t, value) > {_SESSION_GAP_S}
              THEN 1
              WHEN LAG(t) OVER (PARTITION BY user_id ORDER BY t, value) IS NULL THEN 1
              ELSE 0 END AS new_sess
  FROM ev),
s AS (
  SELECT user_id, t, value,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY t, value
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
  FROM flags)
SELECT user_id, CAST(sess_no AS BIGINT) AS sess_no,
       CAST(MIN(t) AS BIGINT) AS sess_start,
       CAST(MAX(t) AS BIGINT) AS sess_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 4) AS sess_value
FROM s GROUP BY user_id, sess_no"""


def q_tile_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """apply(func) surface (georasters.py:978-988): an arbitrary
    per-tile kernel via grouped-map applyInPandas — 16-bin histogram
    entropy per tile, oracle-checked (integer binning keeps the
    histogram exact; only the final ≤16-term entropy sum is float)."""
    import numpy as np
    import pandas as pd

    px = _px(spark, SPEC).select("image_id", F.col("value").cast("long").alias("value"))

    def ent(key, pdf: pd.DataFrame) -> pd.DataFrame:
        bins = (pdf["value"].to_numpy(np.int64) * 16) // 1997
        cnt = np.bincount(bins, minlength=16).astype(np.float64)
        n = cnt.sum()
        p = cnt[cnt > 0] / n
        return pd.DataFrame(
            {"image_id": [key[0]], "n_valid": [int(n)],
             "entropy": [round(float(-(p * np.log2(p)).sum()), 6)]}
        )

    return px.groupBy("image_id").applyInPandas(
        ent, schema="image_id string, n_valid long, entropy double"
    )


def sql_tile_entropy() -> str:
    spec = SPEC
    return f"""WITH {synth.pixel_sql(spec)},
binned AS (
  SELECT printf('{spec.grid_id}_%04d_%04d', CAST(row // {spec.tile} AS INT), CAST(col // {spec.tile} AS INT)) AS image_id,
         (value * 16) // 1997 AS bin
  FROM px),
cnts AS (SELECT image_id, bin, CAST(COUNT(*) AS BIGINT) AS c FROM binned GROUP BY 1, 2),
tot AS (SELECT image_id, CAST(SUM(c) AS BIGINT) AS n FROM cnts GROUP BY 1)
SELECT cnts.image_id, tot.n AS n_valid,
       ROUND(-SUM((CAST(c AS DOUBLE) / n) * log2(CAST(c AS DOUBLE) / n)), 6) AS entropy
FROM cnts JOIN tot ON tot.image_id = cnts.image_id
GROUP BY cnts.image_id, tot.n"""


_KPX_K = 3
_KPX_NPTS = 12


def q_knn_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import knn as KN

    spec = SPEC
    px = _px(spark, SPEC).select("row", "col", "value", "xc", "yc")
    return KN.knn_pixels(
        px,
        synth.points_df(spark, _KPX_NPTS),
        k=_KPX_K,
        origin=(spec.x0, spec.y0),
        cellsize=(spec.cellx, spec.celly),
    )


def sql_knn_pixels() -> str:
    spec = SPEC
    return f"""WITH {synth.pixel_sql(spec)}, {synth.points_sql(_KPX_NPTS)},
scored AS (
  SELECT p.point_id, px.row, px.col, px.value,
         ROUND((px.xc - p.x)*(px.xc - p.x) + (px.yc - p.y)*(px.yc - p.y), 6) AS dist2
  FROM px CROSS JOIN pts p),
ranked AS (
  SELECT point_id, row, col, value, dist2,
         ROW_NUMBER() OVER (PARTITION BY point_id ORDER BY dist2, row, col) AS knn_rank
  FROM scored)
SELECT point_id, row, col, value, dist2, knn_rank
FROM ranked WHERE knn_rank <= {_KPX_K}"""


_EMB_DUP_T = 0.45


def q_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos >= threshold, a < b) —
    the embedding leg of the dedup suite. Exact distributed BLOCK-GEMM
    pair join (no crossJoin row shuffle): this data has no LSH-able
    similarity gap (top background cosines sit right at the near-dup
    band), so an exact threshold join is inherently Ω(n²) WORK — the
    scalable plan turns it into B·(B+1)/2 BLAS tasks with (B+1)·n rows
    of shuffle. The probabilistic scale path (similarity.lsh_topk)
    remains for corpora where recall<1 is acceptable."""
    from .operators.similarity import cosine_pairs_blocked

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_pairs_blocked(emb, threshold=_EMB_DUP_T, n_blocks=4)


def sql_embed_near_dup() -> str:
    return f"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6) >= {_EMB_DUP_T}"""


# ---------------------------------------------------------------------------
# q: audio_features — the first multimodal gate whose bytes are a REAL
# media format: clips are synthesized as genuine RIFF/WAVE PCM16 files
# (stdlib wave), decoded back through the real codec, and windowed
# RMS/zero-crossing features are hashed against a DuckDB oracle that
# recomputes them straight from the sample formula. Equality proves the
# encode→decode round-trip bit-for-bit (a header/layout bug would shift
# every sample and break the integer energy sums).
# ---------------------------------------------------------------------------

_AUD = {"n_clips": 24, "rate": 8000, "window_ms": 500, "hop_ms": 250}


def q_g711_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G.711 telephony audio end to end (sources/g711.py): 12
    deterministic int16 clips alternate mu-law / A-law, ride the real
    8-bit WAV container (format tags 7/6), and are decoded back through
    the multimodal 'wav' dispatch. Companding is a DETERMINISTIC
    integer map, so the gate is hash-exact: per-clip sample count,
    Σ decoded and Σ decoded² must equal a DuckDB oracle that repeats
    the segment arithmetic (bias/clip/seg/mantissa) per sample."""
    import pandas as pd

    from .operators import multimodal as MM
    from .sources import g711

    def gen(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for cid_ in pdf["id"].tolist():
                v = int(cid_)
                n = 400 + 50 * (v % 5)
                i = np.arange(n, dtype=np.int64)
                s = ((i * i * 7 + i * 31 + v * 101) % 65536 - 32768).astype(np.int16)
                law = "ulaw" if v % 2 == 0 else "alaw"
                buf = g711.encode_wav_g711(s, 8000, law)
                dec, rate = MM.decode_audio(buf, "wav")
                d = dec.astype(np.int64)
                rows.append({
                    "clip_id": v, "law": law, "n_samples": int(len(d)),
                    "rate": int(rate),
                    "sum_dec": int(d.sum()),
                    "energy": int((d * d).sum()),
                })
            yield pd.DataFrame(rows, columns=[
                "clip_id", "law", "n_samples", "rate", "sum_dec", "energy"])

    return spark.range(12).repartition(4).mapInPandas(
        gen, schema="clip_id long, law string, n_samples long, rate long, "
                    "sum_dec long, energy long")


def sql_g711_audio() -> str:
    return """
WITH clips AS (SELECT CAST(v.range AS BIGINT) AS v,
                      400 + 50 * (v.range % 5) AS n FROM range(12) v),
smp AS (SELECT c.v, i.range AS i,
               (i.range * i.range * 7 + i.range * 31 + c.v * 101) % 65536
               - 32768 AS s
        FROM clips c CROSS JOIN range(650) i WHERE i.range < c.n),
u AS (  -- mu-law roundtrip: bias 132, clip 32635
  SELECT v, i, s,
         LEAST(ABS(s), 32635) + 132 AS mag0
  FROM smp WHERE v % 2 = 0),
u2 AS (
  SELECT v, i, s,
         CASE WHEN mag0 >= 16384 THEN 7 WHEN mag0 >= 8192 THEN 6
              WHEN mag0 >= 4096 THEN 5 WHEN mag0 >= 2048 THEN 4
              WHEN mag0 >= 1024 THEN 3 WHEN mag0 >= 512 THEN 2
              WHEN mag0 >= 256 THEN 1 ELSE 0 END AS e, mag0
  FROM u),
udec AS (
  SELECT v, i,
         CASE WHEN s < 0 THEN -x ELSE x END AS dec
  FROM (SELECT v, i, s,
               (((mag0 >> (e + 3)) & 15) * 8 + 132) * (1 << e) - 132 AS x
        FROM u2)),
a AS (  -- A-law roundtrip: 13-bit magnitude, xor-0x55 cancels
  SELECT v, i, s,
         (CASE WHEN s >= 0 THEN s ELSE -s - 1 END) >> 3 AS mag
  FROM smp WHERE v % 2 = 1),
a2 AS (
  SELECT v, i, s, mag,
         CASE WHEN mag < 32 THEN 0 WHEN mag < 64 THEN 1
              WHEN mag < 128 THEN 2 WHEN mag < 256 THEN 3
              WHEN mag < 512 THEN 4 WHEN mag < 1024 THEN 5
              WHEN mag < 2048 THEN 6 ELSE 7 END AS seg
  FROM a),
adec AS (
  SELECT v, i,
         CASE WHEN s >= 0 THEN x ELSE -x END AS dec
  FROM (SELECT v, i, s,
               CASE WHEN seg = 0 THEN ((mag >> 1) & 15) * 16 + 8
                    ELSE (((mag >> seg) & 15) * 16 + 264) * (1 << (seg - 1))
               END AS x
        FROM a2)),
alldec AS (SELECT * FROM udec UNION ALL SELECT * FROM adec)
SELECT d.v AS clip_id,
       CASE WHEN d.v % 2 = 0 THEN 'ulaw' ELSE 'alaw' END AS law,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(8000 AS BIGINT) AS rate,
       CAST(SUM(d.dec) AS BIGINT) AS sum_dec,
       CAST(SUM(d.dec * d.dec) AS BIGINT) AS energy
FROM alldec d GROUP BY d.v"""


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from .operators import multimodal as MM

    p = _AUD
    rate = p["rate"]

    def gen(batches):
        for pdf in batches:
            rows = []
            for cid in pdf["id"]:
                c = int(cid)
                dur = 500 + (c % 7) * 300
                n = dur * rate // 1000
                i = np.arange(n, dtype=np.int64)
                s = ((i * 2654435761 + c * 97 + 12345) % 65536) - 32768
                rows.append({
                    "audio_id": c,
                    "bytes": MM.encode_wav_pcm16(s.astype(np.int16), rate),
                    "fmt": "wav", "duration_ms": dur,
                })
            yield pd.DataFrame(rows, columns=["audio_id", "bytes", "fmt", "duration_ms"])

    clips = spark.range(p["n_clips"]).mapInPandas(
        gen, schema="audio_id long, bytes binary, fmt string, duration_ms long"
    )
    return MM.audio_features(clips, window_ms=p["window_ms"], hop_ms=p["hop_ms"])


def q_flac_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL FLAC codec end to end: the same formula clips as
    audio_features, but each travels through from-scratch FLAC
    encode -> decode (fixed predictors, Rice residuals, CRC-verified
    frames, MD5-verified PCM; stereo_mode cycles indep/mid_side) before
    the windowed features — FLAC is LOSSLESS, so the gate shares the
    EXACT audio_features oracle: any coding error breaks the hash."""
    import numpy as np
    import pandas as pd

    from .operators import multimodal as MM
    from .sources import flac

    p = _AUD
    rate = p["rate"]

    def gen(batches):
        for pdf in batches:
            rows = []
            for cid in pdf["id"]:
                c = int(cid)
                dur = 500 + (c % 7) * 300
                n = dur * rate // 1000
                i = np.arange(n, dtype=np.int64)
                s = ((i * 2654435761 + c * 97 + 12345) % 65536) - 32768
                mono = s.astype(np.int16)
                if c % 2 == 0:
                    buf = flac.encode_flac(mono, rate, block_size=1024)
                else:  # stereo mid/side with identical channels,
                    # decoded back to the mono leg by decode_audio
                    st = np.stack([mono, mono], axis=1)
                    buf = flac.encode_flac(st, rate, block_size=1024,
                                           stereo_mode="mid_side")
                rows.append({
                    "audio_id": c, "bytes": buf,
                    "fmt": "flac", "duration_ms": dur,
                })
            yield pd.DataFrame(rows, columns=["audio_id", "bytes", "fmt", "duration_ms"])

    clips = spark.range(p["n_clips"]).mapInPandas(
        gen, schema="audio_id long, bytes binary, fmt string, duration_ms long"
    )
    return MM.audio_features(clips, window_ms=p["window_ms"], hop_ms=p["hop_ms"])


def sql_flac_roundtrip() -> str:
    return sql_audio_features()


def sql_audio_features() -> str:
    p = _AUD
    spms = p["rate"] // 1000  # samples per millisecond
    return f"""WITH clips AS (
  SELECT CAST(c.range AS BIGINT) AS audio_id,
         500 + (c.range % 7) * 300 AS dur
  FROM range({p['n_clips']}) c),
wins AS (
  SELECT audio_id, dur,
         CAST(unnest(range((GREATEST(dur - {p['window_ms']}, 0) // {p['hop_ms']}) + 1)) AS BIGINT) AS window_idx
  FROM clips),
winb AS (
  SELECT audio_id, window_idx,
         window_idx * {p['hop_ms']} AS start_ms,
         LEAST(window_idx * {p['hop_ms']} + {p['window_ms']}, dur) AS end_ms
  FROM wins),
smp AS (
  SELECT audio_id, window_idx, start_ms, end_ms,
         CAST(unnest(range(start_ms * {spms}, end_ms * {spms})) AS BIGINT) AS k
  FROM winb),
sval AS (
  SELECT audio_id, window_idx, start_ms, end_ms, k,
         ((k * 2654435761 + audio_id * 97 + 12345) % 65536) - 32768 AS s,
         (((k - 1) * 2654435761 + audio_id * 97 + 12345) % 65536) - 32768 AS sp,
         k = start_ms * {spms} AS first
  FROM smp),
feat AS (
  SELECT audio_id, window_idx, start_ms, end_ms,
         CAST(COUNT(*) AS BIGINT) AS n_samples,
         CAST(SUM(s * s) AS BIGINT) AS energy,
         CAST(SUM(CASE WHEN NOT first AND ((s >= 0) != (sp >= 0)) THEN 1 ELSE 0 END) AS BIGINT) AS zcr
  FROM sval GROUP BY 1, 2, 3, 4)
SELECT audio_id, window_idx, start_ms, end_ms, n_samples, energy, zcr,
       SQRT(CAST(energy AS DOUBLE) / n_samples) AS rms
FROM feat"""


# ---------------------------------------------------------------------------
# q: terrain — Horn slope/aspect/hillshade (gdaldem algorithm) over the
# synthetic field as a pseudo-DEM. Exact-integer weighted neighbor sums
# feed an identical double/trig chain on both engines.
# ---------------------------------------------------------------------------

def q_terrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEM = the UNMASKED synthetic field (the nodata stripes leave
    almost no full 3×3 window on the masked table, which would make the
    gate trivially all-NULL; the decode path is covered by 20 other
    gates — this one gates the terrain math on a dense surface)."""
    from .operators import terrain as TR

    spec = SPEC
    return TR.slope_aspect_hillshade(
        _dem(spark, spec.height, spec.width),
        cellsize=(spec.cellx, spec.celly), zfactor=0.001,
    )


def sql_terrain() -> str:
    from .operators import terrain as TR

    spec = SPEC
    return TR.terrain_sql(
        _dem_cte(spec.height, spec.width),
        cellsize=(spec.cellx, spec.celly), zfactor=0.001,
    )


# ---------------------------------------------------------------------------
# q: focal_mean_5x5 — distributed k×k stencil (tile + halo grouped-map);
# the DuckDB 25-offset neighbor-join oracle independently proves the
# halo assembly loses/duplicates nothing across tile seams.
# ---------------------------------------------------------------------------

def q_focal_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import focal as FO

    px = _px(spark, SPEC).select("row", "col", F.col("value").cast("long").alias("value"))
    return FO.focal_sums(px, k=5)


def sql_focal_mean() -> str:
    from .operators import focal as FO

    return FO.focal_sums_sql(synth.pixel_sql(SPEC), k=5)


def q_focal_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r6 tiles-in stencil (decode-in-place + halo-strip exchange,
    focal.focal_apply_tiles) against the SAME neighbor-join oracle as
    focal_mean_5x5 — pinning that the strip assembly loses/duplicates
    nothing across tile seams, straight off the stored tiles table."""
    from .operators import focal as FO

    return FO.focal_sums_tiles(images_for(spark, SPEC), k=5)


def sql_focal_tiles() -> str:
    from .operators import focal as FO

    return FO.focal_sums_sql(synth.pixel_sql(SPEC), k=5)


# ---------------------------------------------------------------------------
# q: D8 hydrology — flow direction (exact-integer steepest-descent
# argmax) and flow accumulation (distributed DAG fixpoint vs a
# recursive downstream-closure oracle).
# ---------------------------------------------------------------------------

def q_terrain_tpi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining gdaldem window modes next to slope/aspect/
    hillshade: TPI, TRI (Wilson default AND -alg Riley) and roughness
    from one 3×3 focal_apply stencil
    (terrain.tpi_tri_roughness), over the same dense synthetic DEM as
    the terrain gate. EXACT oracle: integer neighbor sums re-derived
    in SQL, identical double chain (ROUND 6dp), exact BIGINT
    roughness."""
    from .operators import terrain as TR

    spec = SPEC
    return TR.tpi_tri_roughness(_dem(spark, spec.height, spec.width))


def sql_terrain_tpi() -> str:
    from .operators import terrain as TR

    spec = SPEC
    return TR.tpi_sql(_dem_cte(spec.height, spec.width))


def q_hillshade_md(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdaldem -multidirectional hillshade (terrain.
    hillshade_multidirectional): four-azimuth Mark 1992 combination
    over the same exact-integer Horn sums as the terrain gate. EXACT
    oracle: the identical expression chain re-derived in SQL."""
    from .operators import terrain as TR

    spec = SPEC
    return TR.hillshade_multidirectional(
        _dem(spark, spec.height, spec.width),
        cellsize=(spec.cellx, spec.celly), zfactor=0.001)


def sql_hillshade_md() -> str:
    from .operators import terrain as TR

    spec = SPEC
    return TR.hillshade_md_sql(
        _dem_cte(spec.height, spec.width),
        cellsize=(spec.cellx, spec.celly), zfactor=0.001)


_RELIEF_RAMP = [
    (0, 0, 97, 71), (400, 16, 122, 47), (800, 232, 215, 136),
    (1200, 161, 67, 0), (1600, 130, 30, 30), (1900, 255, 255, 255),
]


def q_color_relief(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdaldem color-relief (terrain.color_relief): elevation → RGB by
    linear interpolation through a 6-entry ramp, as a BROADCAST range
    join of the segment table (clamp segments at ±inf) — pixels never
    shuffle. The DEM's [0, 1997) value domain exercises interior
    segments AND the above-ramp clamp. EXACT oracle: the same segment
    CASE chain with the same floor(x + 0.5) channel rounding."""
    from .operators import terrain as TR

    spec = SPEC
    return TR.color_relief(
        _dem(spark, spec.height, spec.width), _RELIEF_RAMP)


def sql_color_relief() -> str:
    from .operators import terrain as TR

    spec = SPEC
    return TR.color_relief_sql(
        _dem_cte(spec.height, spec.width), _RELIEF_RAMP)


def _dem(spark: SparkSession, h: int, w: int) -> DataFrame:
    spec = SPEC
    return (
        spark.range(h).select(F.col("id").alias("row"))
        .crossJoin(spark.range(w).select(F.col("id").alias("col")))
        .select(
            "row", "col",
            ((F.col("row") * 7919 + F.col("col") * 104729 + F.lit(spec.seed)) % 1997)
            .alias("value"),
        )
    )


def _dem_images(spark: SparkSession, h: int, w: int,
                tile: int = 64) -> DataFrame:
    """The SAME _dem formula served as a STORED raw16 tiles table
    (edge tiles ndv-padded, ndv=-1 never collides with the [0,1997)
    value domain) — the input shape the tiles-in stencil plans decode
    in place."""
    import math

    import numpy as np
    import pandas as pd

    spec = SPEC
    n_ty, n_tx = math.ceil(h / tile), math.ceil(w / tile)

    def gen(batches):
        from .sources import codec

        for pdf in batches:
            rows = []
            for tid in pdf["id"].tolist():
                ty, tx = divmod(int(tid), n_tx)
                rr = np.arange(ty * tile, (ty + 1) * tile, dtype=np.int64)[:, None]
                cc = np.arange(tx * tile, (tx + 1) * tile, dtype=np.int64)[None, :]
                val = (rr * 7919 + cc * 104729 + spec.seed) % 1997
                val = np.where((rr < h) & (cc < w), val, -1).astype(np.int16)
                rows.append({
                    "bytes": codec.encode_tile(val, "raw16", -1.0),
                    "fmt": "raw16", "w": tile, "h": tile, "ndv": -1.0,
                    "tile_row": ty, "tile_col": tx,
                })
            yield pd.DataFrame(rows)

    return spark.range(n_ty * n_tx).mapInPandas(
        gen,
        schema="bytes binary, fmt string, w int, h int, ndv double, "
               "tile_row int, tile_col int",
    )


def q_terrain_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """slope/aspect/hillshade off the stored tiles (images=:
    decode-in-place + halo-strip exchange) on the stored-DEM tiles
    table, against the SAME exact expression-chain oracle as `terrain`
    — pinning the strip assembly across tile seams AND the ndv edge
    padding rule."""
    from .operators import terrain as TR

    spec = SPEC
    return TR.slope_aspect_hillshade(
        None, cellsize=(spec.cellx, spec.celly), zfactor=0.001,
        images=_dem_images(spark, spec.height, spec.width),
    )


def _dem_cte(h: int, w: int) -> str:
    spec = SPEC
    return f"""px AS (
  SELECT CAST(r.range AS BIGINT) AS row, CAST(c.range AS BIGINT) AS col,
         CAST((r.range*7919 + c.range*104729 + {spec.seed}) % 1997 AS BIGINT) AS value
  FROM range({h}) r CROSS JOIN range({w}) c
)"""


def q_overviews(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COG-style overview pyramid level 4: decode → block mean →
    re-encode as tiles → decode BACK (the whole codec round-trip is in
    the gated path, like clip_zones)."""
    spec = SPEC
    ovr = PX.build_overviews(
        images_for(spark, spec), origin=(spec.x0, spec.y0),
        cellsize=(spec.cellx, spec.celly), levels=(4,), ndv=spec.ndv,
    )[4]
    return PX.pixel_table(ovr, valid_only=True, with_coords=False).select(
        "row", "col", F.col("value").cast("long").alias("value")
    )


def sql_overviews() -> str:
    spec = SPEC
    return f"""WITH {synth.pixel_sql(spec)}
SELECT row // 4 AS row, col // 4 AS col,
       CAST(round_even(CAST(SUM(value) AS DOUBLE) / COUNT(value), 0) AS BIGINT) AS value
FROM px GROUP BY 1, 2"""


_TIFF_VARIANTS = [
    # (compression, predictor, byteorder, tiled, dtype) — the writer's
    # full public matrix, every leg exercised inside ONE gated query
    ("none", False, "<", False, "int16"),
    ("deflate", True, "<", False, "int16"),
    ("lzw", True, "<", False, "int16"),
    ("deflate", True, ">", False, "int16"),
    ("deflate", True, "<", True, "int16"),
    ("lzw", False, ">", True, "int32"),
    ("deflate", True, ">", True, "int32"),
    ("none", False, ">", False, "int32"),
    ("deflate", False, "<", False, "float32"),
    ("lzw", False, "<", True, "float32"),
    ("deflate", False, ">", False, "float64"),
    ("none", False, "<", True, "float64"),
]


def q_geotiff_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GeoTIFF codec end to end (reference load_tiff/to_tiff,
    georasters.py:281-291, :535-557): 12 files spanning the writer's
    full matrix — none/deflate/LZW, predictor on/off, LE/BE, strip and
    tiled layout, int16/int32/float32/float64, and every third file a
    BigTIFF (magic 43, LONG8 offsets) — are written and parsed back
    executor-side; every valid pixel plus the parsed georef/EPSG is
    hashed against the formula oracle. All distributed: one Spark task
    per batch of files, no driver arrays."""
    import pandas as pd

    from .sources import geotiff

    spec = SPEC
    h = w = 96

    def gen(batches):
        import numpy as np

        for pdf in batches:
            outs = []
            for fid in pdf["id"].tolist():
                f = int(fid)
                comp, pred, bo, tiled, dt = _TIFF_VARIANTS[f % len(_TIFF_VARIANTS)]
                r = np.arange(h, dtype=np.int64)[:, None]
                c = np.arange(w, dtype=np.int64)[None, :]
                v = (r * 7919 + c * 104729 + f * 131 + spec.seed) % 1997
                masked = ((r * 31 + c * 17 + f * 7) % 97) < 24
                a = np.where(masked, -9999, v).astype(np.dtype(dt))
                buf = geotiff.write_tiff(
                    a, x0=-180.0 + f, y0=90.0, cellx=0.1, celly=-0.1,
                    ndv=-9999, epsg=3857 if f % 2 == 0 else 4326,
                    compression=comp, predictor=pred, byteorder=bo,
                    tiled=tiled, tile_size=32, rows_per_strip=13,
                    bigtiff=(f % 3 == 2),
                )
                assert (buf[2:4] in (b"+\x00", b"\x00+")) == (f % 3 == 2)
                out, meta = geotiff.parse_tiff(buf)
                assert str(out.dtype) == dt and meta["ndv"] == -9999.0
                valid = out != -9999
                rr, cc = np.nonzero(valid)
                outs.append(pd.DataFrame({
                    "file_id": f, "row": rr.astype(np.int64),
                    "col": cc.astype(np.int64),
                    "value": out[valid].astype(np.int64),
                    "x0": float(meta["x0"]),
                    "epsg": int(meta["epsg"]),
                }))
            yield pd.concat(outs) if outs else pd.DataFrame(
                columns=["file_id", "row", "col", "value", "x0", "epsg"])

    return spark.range(12).repartition(4).mapInPandas(
        gen, schema="file_id long, row long, col long, value long, "
                    "x0 double, epsg long"
    )


def sql_geotiff_roundtrip() -> str:
    spec = SPEC
    return f"""
WITH f AS (SELECT range AS file_id FROM range(12)),
px AS (
  SELECT f.file_id, r.range AS row, c.range AS col,
         (r.range*7919 + c.range*104729 + f.file_id*131 + {spec.seed}) % 1997 AS value
  FROM f CROSS JOIN range(96) r CROSS JOIN range(96) c
  WHERE (r.range*31 + c.range*17 + f.file_id*7) % 97 >= 24
)
SELECT CAST(file_id AS BIGINT) AS file_id, CAST(row AS BIGINT) AS row,
       CAST(col AS BIGINT) AS col, CAST(value AS BIGINT) AS value,
       CAST(-180.0 + file_id AS DOUBLE) AS x0,
       CAST(CASE WHEN file_id % 2 = 0 THEN 3857 ELSE 4326 END AS BIGINT) AS epsg
FROM px"""


_JPEG_SIZES = [(64, 64), (60, 52), (48, 80), (33, 57)]
_JPEG_QUALS = [95, 85, 75]

_PNG_SIZES = [(16, 24), (33, 17), (8, 40), (25, 25)]  # (h, w), key = f % 4
_PNG_STRATS = ["adaptive", "none", "sub", "up", "average", "paeth"]


def q_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL full PNG codec end to end (sources/png.py): 24 deterministic
    images cycling 6 kinds — gray8, gray16, RGB8, RGBA8, 4-bit gray,
    and 4-bit palette+tRNS (expands to RGBA) — x 4 sizes, odd ids
    Adam7-interlaced, filter strategy cycling all six encoder modes,
    are encoded and decoded back executor-side. PNG is LOSSLESS, so the
    gate is hash-exact: a position-weighted integer checksum over every
    DECODED sample, which the DuckDB oracle re-derives purely
    arithmetically from the pixel formulas — any wrong sample anywhere
    in the filter/interlace/palette pipeline shifts the sum."""
    import pandas as pd

    from .sources import png as P

    def gen(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for fid in pdf["id"].tolist():
                f = int(fid)
                h, w = _PNG_SIZES[f % 4]
                kind = f % 6
                il = f % 2 == 1
                # strategy index deliberately NOT a function of f % 6
                # alone: (kind + f // 6) % 6 crosses each image kind
                # with 4 distinct filter strategies over the 24 ids
                # (ADVICE r5 — f % 6 locked each kind to one strategy)
                strat = _PNG_STRATS[(f % 6 + f // 6) % 6]
                r = np.arange(h, dtype=np.int64)[:, None, None]
                c = np.arange(w, dtype=np.int64)[None, :, None]
                if kind == 0:  # gray8
                    img = ((r * 7 + c * 13 + f * 29) % 256)[..., 0].astype(np.uint8)
                    buf = P.encode(img, interlace=il, filter_strategy=strat)
                elif kind == 1:  # gray16
                    img = ((r * 7 + c * 13 + f * 29) % 65536)[..., 0].astype(np.uint16)
                    buf = P.encode(img, interlace=il, filter_strategy=strat)
                elif kind == 2:  # RGB8
                    ch = np.arange(3, dtype=np.int64)[None, None, :]
                    img = ((r * 7 + c * 13 + ch * 11 + f * 29) % 256).astype(np.uint8)
                    buf = P.encode(img, interlace=il, filter_strategy=strat)
                elif kind == 3:  # RGBA8
                    ch = np.arange(4, dtype=np.int64)[None, None, :]
                    img = ((r * 7 + c * 13 + ch * 11 + f * 29) % 256).astype(np.uint8)
                    buf = P.encode(img, interlace=il, filter_strategy=strat)
                elif kind == 4:  # 4-bit gray
                    img = ((r * 7 + c * 13 + f * 29) % 16)[..., 0].astype(np.uint8)
                    buf = P.encode(img, depth=4, interlace=il, filter_strategy=strat)
                else:  # 4-bit palette + tRNS -> decodes to RGBA
                    idx = ((r * 3 + c * 5 + f) % 16)[..., 0].astype(np.uint8)
                    i = np.arange(16, dtype=np.int64)
                    pal = np.stack([(i * 37 + f) % 256, (i * 59 + 3 * f) % 256,
                                    (i * 83 + 7 * f) % 256], axis=1).astype(np.uint8)
                    trns = bytes(int((k * 16 + f) % 256) for k in range(16))
                    buf = P.encode(idx, palette=pal, depth=4, trns=trns,
                                   interlace=il, filter_strategy=strat)
                dec = P.decode(buf)
                a = dec if dec.ndim == 3 else dec[..., None]
                nch = a.shape[2]
                pos = ((np.arange(h)[:, None, None] * w
                        + np.arange(w)[None, :, None]) * nch
                       + np.arange(nch)[None, None, :])
                cks = int((a.astype(np.int64) * (1 + pos % 97)).sum())
                rows.append({"img_id": f, "h": int(a.shape[0]),
                             "w": int(a.shape[1]), "nch": nch,
                             "checksum": cks})
            yield pd.DataFrame(rows, columns=["img_id", "h", "w", "nch",
                                              "checksum"])

    return spark.range(24).repartition(4).mapInPandas(
        gen, schema="img_id long, h int, w int, nch int, checksum long")


def sql_png_roundtrip() -> str:
    dims = ", ".join(f"({i}, {h}, {w})" for i, (h, w) in enumerate(_PNG_SIZES))
    return f"""
WITH sizes(k, h, w) AS (VALUES {dims}),
imgs AS (
  SELECT CAST(f.range AS BIGINT) AS img_id, s.h, s.w, f.range % 6 AS kind,
         CASE WHEN f.range % 6 IN (3, 5) THEN 4
              WHEN f.range % 6 = 2 THEN 3 ELSE 1 END AS nch
  FROM range(24) f JOIN sizes s ON s.k = f.range % 4),
px AS (
  SELECT i.img_id, i.h, i.w, i.kind, i.nch,
         r.range AS r, c.range AS c, ch.range AS ch
  FROM imgs i
  CROSS JOIN range(40) r CROSS JOIN range(40) c CROSS JOIN range(4) ch
  WHERE r.range < i.h AND c.range < i.w AND ch.range < i.nch),
vals AS (
  SELECT img_id, h, w, nch,
         (r * w + c) * nch + ch AS pos,
         CASE kind
           WHEN 0 THEN (r * 7 + c * 13 + img_id * 29) % 256
           WHEN 1 THEN (r * 7 + c * 13 + img_id * 29) % 65536
           WHEN 2 THEN (r * 7 + c * 13 + ch * 11 + img_id * 29) % 256
           WHEN 3 THEN (r * 7 + c * 13 + ch * 11 + img_id * 29) % 256
           WHEN 4 THEN (r * 7 + c * 13 + img_id * 29) % 16
           ELSE CASE ch
             WHEN 0 THEN (((r * 3 + c * 5 + img_id) % 16) * 37 + img_id) % 256
             WHEN 1 THEN (((r * 3 + c * 5 + img_id) % 16) * 59 + 3 * img_id) % 256
             WHEN 2 THEN (((r * 3 + c * 5 + img_id) % 16) * 83 + 7 * img_id) % 256
             ELSE (((r * 3 + c * 5 + img_id) % 16) * 16 + img_id) % 256
           END
         END AS v
  FROM px)
SELECT img_id, CAST(MAX(h) AS INT) AS h, CAST(MAX(w) AS INT) AS w,
       CAST(MAX(nch) AS INT) AS nch,
       CAST(SUM(v * (1 + pos % 97)) AS BIGINT) AS checksum
FROM vals GROUP BY img_id"""


def q_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline JPEG end to end: 48 deterministic grayscale images
    (4 sizes x 3 qualities, some with restart markers) PLUS 12 color
    images cycling 4:4:4 / 4:2:2 / 4:2:0 subsampling are encoded and
    decoded back executor-side (gray via the multimodal fmt dispatch,
    color through the full chroma-downsample + replication-upsample
    path), PLUS 12 gray and 6 color progressive (SOF2) images whose
    pixels must equal their baseline siblings bit-for-bit. JPEG is lossy, so the hashed contract is the codec AUDIT
    (like psnr_gate_q8): exact dims/pixel-count plus psnr>=30dB and
    mean-abs-err<=4 (gray) / <=6 (subsampled color) booleans per image
    — with the value-level rigor carried by the spec-anchored bitstream
    vector and roundtrip matrix in tests/test_jpeg.py."""
    import pandas as pd

    from .operators import multimodal as MM
    from .sources import jpeg

    def gen(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for fid in pdf["id"].tolist():
                f = int(fid)
                h, w = _JPEG_SIZES[f % 4]
                r = np.arange(h)[:, None]
                c = np.arange(w)[None, :]
                base = 128 + 90 * np.sin(r / 5.0 + f * 0.37) * np.cos(c / 6.0 + f * 0.11)
                if f < 48:
                    q = _JPEG_QUALS[(f // 4) % 3]
                    img = base.astype(np.uint8)
                    buf = jpeg.encode_gray(img, q, restart_interval=4 if f % 5 == 0 else 0)
                    out = MM.decode_any(buf, "jpeg", w, h).astype(np.uint8)
                    mae_bound = 4.0
                elif 60 <= f < 72:  # gray progressive (SOF2, 4-scan SA)
                    q = _JPEG_QUALS[(f - 60) % 3]
                    img = base.astype(np.uint8)
                    buf = jpeg.encode_gray_progressive(img, q)
                    out = jpeg.decode(buf)
                    # progressive == baseline pixels: pin it in the gate
                    assert (out == jpeg.decode(jpeg.encode_gray(img, q))).all()
                    mae_bound = 4.0
                elif f >= 72:  # COLOR progressive (8-scan, interleaved DC)
                    q = _JPEG_QUALS[(f - 72) % 3]
                    img = np.stack([
                        np.clip(base, 0, 255),
                        np.clip(0.8 * base + 20, 0, 255),
                        np.clip(255 - base, 0, 255),
                    ], axis=2).astype(np.uint8)
                    buf = jpeg.encode_color_progressive(img, q)
                    out = jpeg.decode(buf)
                    assert (out == jpeg.decode(jpeg.encode_color(img, q))).all()
                    mae_bound = 4.0
                else:  # color rows: subsampling cycles 444 / 422 / 420
                    ss = ("444", "422", "420")[(f - 48) % 3]
                    img = np.stack([
                        np.clip(base, 0, 255),
                        np.clip(0.8 * base + 20, 0, 255),
                        np.clip(255 - base, 0, 255),
                    ], axis=2).astype(np.uint8)
                    buf = jpeg.encode_color(img, quality=90, subsampling=ss)
                    out = jpeg.decode(buf)
                    mae_bound = 6.0
                err = np.abs(out.astype(np.float64) - img.astype(np.float64))
                rows.append({
                    "img_id": f, "w": int(out.shape[1]), "h": int(out.shape[0]),
                    "n_px": int(out.size),
                    "psnr_ge_30": bool(jpeg.psnr_u8(img, out) >= 30.0),
                    "mae_le_4": bool(err.mean() <= mae_bound),
                })
            yield pd.DataFrame(rows, columns=["img_id", "w", "h", "n_px",
                                              "psnr_ge_30", "mae_le_4"])

    return spark.range(78).repartition(4).mapInPandas(
        gen, schema="img_id long, w int, h int, n_px long, "
                    "psnr_ge_30 boolean, mae_le_4 boolean"
    )


def sql_jpeg_roundtrip() -> str:
    dims = ", ".join(f"({i}, {w}, {h})" for i, (h, w) in enumerate(_JPEG_SIZES))
    return f"""
WITH sizes(k, w, h) AS (VALUES {dims})
SELECT CAST(f.range AS BIGINT) AS img_id,
       CAST(s.w AS INT) AS w, CAST(s.h AS INT) AS h,
       CAST(s.w * s.h * CASE WHEN (f.range >= 48 AND f.range < 60) OR f.range >= 72 THEN 3 ELSE 1 END AS BIGINT) AS n_px,
       TRUE AS psnr_ge_30, TRUE AS mae_le_4
FROM range(78) f JOIN sizes s ON s.k = f.range % 4"""


def q_tiff_multiband(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-band GeoTIFF WRITE parity (reference create_geotiff writes
    n-band rasters via GDAL, georasters.py:179-205): 8 files cycling
    2/3/4 bands x dtype x none/deflate/LZW x predictor x strip/tile x
    LE/BE x classic/BigTIFF are written chunky-interleaved
    (PlanarConfiguration=1) and parsed back executor-side; lossless, so
    the gate is hash-exact per (file, band): a position-weighted
    checksum over every sample, re-derived arithmetically in DuckDB."""
    import pandas as pd

    from .sources import geotiff as GT

    H, W = 40, 56

    def gen(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for fid in pdf["id"].tolist():
                f = int(fid)
                nb = 2 + f % 3
                dt = ("int16", "uint8", "uint16", "int32")[f % 4]
                comp = ("none", "deflate", "lzw")[f % 3]
                b = np.arange(nb, dtype=np.int64)[:, None, None]
                r = np.arange(H, dtype=np.int64)[None, :, None]
                c = np.arange(W, dtype=np.int64)[None, None, :]
                m = ((b * 53 + r * 7 + c * 13 + f * 29) % 251).astype(np.dtype(dt))
                buf = GT.write_tiff(
                    m, compression=comp, predictor=(f % 2 == 0),
                    tiled=(f % 2 == 1), tile_size=32, rows_per_strip=13,
                    byteorder="<" if f % 2 == 0 else ">",
                    bigtiff=(f % 3 == 0), epsg=3857, x0=1.5, cellx=0.25,
                    celly=-0.25,
                )
                arr, meta = GT.parse_tiff(buf)
                assert arr.shape == (nb, H, W) and meta["bands"] == nb
                assert (arr == m).all() and meta["epsg"] == 3857
                pos = (np.arange(H)[:, None] * W + np.arange(W)[None, :])
                wgt = 1 + pos % 97
                for bi in range(nb):
                    rows.append({
                        "file_id": f, "band": bi,
                        "n_px": int(H * W),
                        "checksum": int((arr[bi].astype(np.int64) * wgt).sum()),
                    })
            yield pd.DataFrame(rows, columns=["file_id", "band", "n_px",
                                              "checksum"])

    return spark.range(8).repartition(4).mapInPandas(
        gen, schema="file_id long, band long, n_px long, checksum long")


def sql_tiff_multiband() -> str:
    return """
WITH f AS (SELECT CAST(range AS BIGINT) AS f, 2 + range % 3 AS nb
           FROM range(8)),
bands AS (SELECT f.f, b.range AS b FROM f CROSS JOIN range(4) b
          WHERE b.range < f.nb),
px AS (SELECT bands.f, bands.b, r.range AS r, c.range AS c
       FROM bands CROSS JOIN range(40) r CROSS JOIN range(56) c)
SELECT f AS file_id, CAST(b AS BIGINT) AS band,
       CAST(COUNT(*) AS BIGINT) AS n_px,
       CAST(SUM(((b * 53 + r * 7 + c * 13 + f * 29) % 251)
                * (1 + (r * 56 + c) % 97)) AS BIGINT) AS checksum
FROM px GROUP BY f, b"""


def q_tiff_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIFF-JPEG (compression=7, TIFF Technical Note 2) end to end:
    16 gray images cycling strip/tile layout and full-stream vs
    shared-JPEGTables (tag 347), PLUS 8 COLOR images (3-band RGB,
    photometric 6 YCbCr) cycling 4:4:4 / 4:2:2 / 4:2:0 chroma
    subsampling, written and parsed back executor-side through the
    real container + real JPEG codec. JPEG is lossy, so the hashed
    contract is the per-kind audit (gray psnr>=40/mae<=2; color
    psnr>=28/mae<=8 at 4:2:0) plus TWO exact pins: dims + band count
    survive the container, and the JPEGTables file decodes
    bit-identically to its full-stream sibling."""
    import pandas as pd

    from .sources import geotiff as GT
    from .sources import jpeg as J

    def gen(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for fid in pdf["id"].tolist():
                f = int(fid)
                h, w = _JPEG_SIZES[f % 4]
                r = np.arange(h)[:, None]
                c = np.arange(w)[None, :]
                base = (128 + 90 * np.sin(r / 5.0 + f * 0.37)
                        * np.cos(c / 6.0 + f * 0.11))
                tiled = f % 2 == 1
                kw = dict(compression="jpeg", jpeg_quality=90, tiled=tiled,
                          tile_size=48, rows_per_strip=16, epsg=32633)
                if f < 16:  # gray
                    img = base.astype(np.uint8)
                    psnr_b, mae_b, nb = 40.0, 2.0, 1
                else:  # 3-band RGB through the YCbCr color path
                    img = np.stack([
                        np.clip(base, 0, 255),
                        np.clip(0.8 * base + 20, 0, 255),
                        np.clip(255 - base, 0, 255),
                    ]).astype(np.uint8)
                    kw["jpeg_subsampling"] = ("444", "422", "420")[f % 3]
                    psnr_b, mae_b, nb = 28.0, 8.0, 3
                full = GT.parse_tiff(GT.write_tiff(img, **kw))[0]
                abbr = GT.parse_tiff(
                    GT.write_tiff(img, jpeg_tables=True, **kw))[0]
                err = np.abs(full.astype(np.float64) - img.astype(np.float64))
                rows.append({
                    "img_id": f, "w": int(full.shape[-1]),
                    "h": int(full.shape[-2]), "bands": nb,
                    "psnr_ok": bool(J.psnr_u8(
                        img.ravel(), full.astype(np.uint8).ravel()) >= psnr_b),
                    "mae_ok": bool(err.mean() <= mae_b),
                    "tables_identical": bool((full == abbr).all()),
                })
            yield pd.DataFrame(rows, columns=[
                "img_id", "w", "h", "bands", "psnr_ok", "mae_ok",
                "tables_identical"])

    return spark.range(24).repartition(4).mapInPandas(
        gen, schema="img_id long, w int, h int, bands int, "
                    "psnr_ok boolean, mae_ok boolean, "
                    "tables_identical boolean")


def sql_tiff_jpeg() -> str:
    dims = ", ".join(f"({i}, {w}, {h})" for i, (h, w) in enumerate(_JPEG_SIZES))
    return f"""
WITH sizes(k, w, h) AS (VALUES {dims})
SELECT CAST(f.range AS BIGINT) AS img_id,
       CAST(s.w AS INT) AS w, CAST(s.h AS INT) AS h,
       CAST(CASE WHEN f.range < 16 THEN 1 ELSE 3 END AS INT) AS bands,
       TRUE AS psnr_ok, TRUE AS mae_ok, TRUE AS tables_identical
FROM range(24) f JOIN sizes s ON s.k = f.range % 4"""


_GIF_SIZES = [(24, 18), (16, 32), (21, 21), (12, 40)]  # (h, w), key = v % 4


def q_bmp_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BMP codec end to end (sources/bmp.py): 12 deterministic files
    cycling 8-bit palettized plain, 8-bit RLE8, 24-bit BGR and 32-bit
    BGRX — odd ids top-down — are encoded and decoded back
    executor-side. BMP is lossless, so the gate is hash-exact: a
    position-weighted checksum over every decoded sample (indices for
    palettized kinds, channels for truecolor), re-derived
    arithmetically in DuckDB."""
    import pandas as pd

    from .sources import bmp as B

    def gen(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for fid in pdf["id"].tolist():
                f = int(fid)
                h, w = _PNG_SIZES[f % 4]
                kind = f % 4
                td = f % 2 == 1
                r = np.arange(h, dtype=np.int64)[:, None, None]
                c = np.arange(w, dtype=np.int64)[None, :, None]
                if kind in (0, 1):  # palettized (plain / RLE8)
                    idx = ((r * 3 + c * 5 + f) % 16)[..., 0].astype(np.uint8)
                    i = np.arange(16, dtype=np.int64)
                    pal = np.stack([(i * 37 + f) % 256, (i * 59 + 3 * f) % 256,
                                    (i * 83 + 7 * f) % 256], axis=1).astype(np.uint8)
                    buf = B.encode(idx, pal, rle=(kind == 1), top_down=td)
                    dec, _m = B.decode(buf)
                    a = dec[..., None]
                else:  # truecolor 24 / 32
                    nch = 3 if kind == 2 else 4
                    ch = np.arange(nch, dtype=np.int64)[None, None, :]
                    img = ((r * 7 + c * 13 + ch * 11 + f * 29) % 256).astype(np.uint8)
                    buf = B.encode(img, top_down=td)
                    a, _m = B.decode(buf)
                nch = a.shape[2]
                pos = ((np.arange(h)[:, None, None] * w
                        + np.arange(w)[None, :, None]) * nch
                       + np.arange(nch)[None, None, :])
                rows.append({
                    "img_id": f, "h": h, "w": w, "nch": nch,
                    "checksum": int((a.astype(np.int64)
                                     * (1 + pos % 97)).sum()),
                })
            yield pd.DataFrame(rows, columns=["img_id", "h", "w", "nch",
                                              "checksum"])

    return spark.range(12).repartition(4).mapInPandas(
        gen, schema="img_id long, h int, w int, nch int, checksum long")


def sql_bmp_roundtrip() -> str:
    dims = ", ".join(f"({i}, {h}, {w})" for i, (h, w) in enumerate(_PNG_SIZES))
    return f"""
WITH sizes(k, h, w) AS (VALUES {dims}),
imgs AS (
  SELECT CAST(f.range AS BIGINT) AS img_id, s.h, s.w, f.range % 4 AS kind,
         CASE WHEN f.range % 4 = 2 THEN 3
              WHEN f.range % 4 = 3 THEN 4 ELSE 1 END AS nch
  FROM range(12) f JOIN sizes s ON s.k = f.range % 4),
px AS (
  SELECT i.img_id, i.h, i.w, i.kind, i.nch,
         r.range AS r, c.range AS c, ch.range AS ch
  FROM imgs i
  CROSS JOIN range(40) r CROSS JOIN range(40) c CROSS JOIN range(4) ch
  WHERE r.range < i.h AND c.range < i.w AND ch.range < i.nch),
vals AS (
  SELECT img_id, h, w, nch, (r * w + c) * nch + ch AS pos,
         CASE WHEN kind IN (0, 1) THEN (r * 3 + c * 5 + img_id) % 16
              ELSE (r * 7 + c * 13 + ch * 11 + img_id * 29) % 256
         END AS v
  FROM px)
SELECT img_id, CAST(MAX(h) AS INT) AS h, CAST(MAX(w) AS INT) AS w,
       CAST(MAX(nch) AS INT) AS nch,
       CAST(SUM(v * (1 + pos % 97)) AS BIGINT) AS checksum
FROM vals GROUP BY img_id"""


def q_qoi_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QOI codec end to end (sources/qoi.py, the public one-page
    qoiformat.org spec): 12 deterministic files cycling four content
    kinds chosen to exercise every chunk op — RGB unit-step gradients
    (DIFF/LUMA), a 16-color palette pattern (INDEX), RGBA with varying
    alpha (RGBA op), and run-structured stripes (RUN) — are encoded
    and decoded back executor-side, plus magic-sniffed + header-probed
    through the media-lake ingest path (operators/multimodal.py
    sniff_media/_probe_dims). QOI is lossless, so the gate is
    hash-exact: a position-weighted checksum over every decoded
    sample, re-derived arithmetically in DuckDB."""
    import pandas as pd

    from .operators import multimodal as MM
    from .sources import qoi as QO

    def gen(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for fid in pdf["id"].tolist():
                f = int(fid)
                h, w = _PNG_SIZES[f % 4]
                kind = f % 4
                nch = 4 if kind == 2 else 3
                r = np.arange(h, dtype=np.int64)[:, None, None]
                c = np.arange(w, dtype=np.int64)[None, :, None]
                ch = np.arange(nch, dtype=np.int64)[None, None, :]
                if kind == 0:      # unit steps -> DIFF/LUMA
                    v = (r + c + ch * 11 + f) % 256
                elif kind == 1:    # 16 colors -> INDEX
                    v = (((r * 3 + c * 5 + f) % 16) * (17 + ch * 2)) % 256
                elif kind == 2:    # RGBA incl. varying alpha
                    v = (r * 7 + c * 13 + ch * 11 + f * 29) % 256
                else:              # 17-wide stripes -> RUN
                    v = ((c // 17) * 31 + r * 5 + ch * 3 + f) % 256
                img = v.astype(np.uint8)
                buf = QO.encode(img)
                dec, meta = QO.decode(buf)
                pw, ph = MM._probe_dims(buf, MM.sniff_media(buf))
                pos = ((np.arange(h)[:, None, None] * w
                        + np.arange(w)[None, :, None]) * nch + ch)
                rows.append({
                    "img_id": f, "h": h, "w": w, "nch": nch,
                    "sniff_ok": bool(
                        MM.sniff_media(buf) == "qoi" and (pw, ph) == (w, h)
                        and meta["channels"] == nch),
                    "checksum": int((dec.astype(np.int64)
                                     * (1 + pos % 97)).sum()),
                })
            yield pd.DataFrame(rows, columns=[
                "img_id", "h", "w", "nch", "sniff_ok", "checksum"])

    return spark.range(12).repartition(4).mapInPandas(
        gen, schema="img_id long, h int, w int, nch int, "
                    "sniff_ok boolean, checksum long")


def sql_qoi_roundtrip() -> str:
    dims = ", ".join(f"({i}, {h}, {w})" for i, (h, w) in enumerate(_PNG_SIZES))
    return f"""
WITH sizes(k, h, w) AS (VALUES {dims}),
imgs AS (
  SELECT CAST(f.range AS BIGINT) AS img_id, s.h, s.w, f.range % 4 AS kind,
         CASE WHEN f.range % 4 = 2 THEN 4 ELSE 3 END AS nch
  FROM range(12) f JOIN sizes s ON s.k = f.range % 4),
px AS (
  SELECT i.img_id, i.h, i.w, i.kind, i.nch,
         r.range AS r, c.range AS c, ch.range AS ch
  FROM imgs i
  CROSS JOIN range(40) r CROSS JOIN range(40) c CROSS JOIN range(4) ch
  WHERE r.range < i.h AND c.range < i.w AND ch.range < i.nch),
vals AS (
  SELECT img_id, h, w, nch, (r * w + c) * nch + ch AS pos,
         CASE WHEN kind = 0 THEN (r + c + ch * 11 + img_id) % 256
              WHEN kind = 1
                THEN (((r * 3 + c * 5 + img_id) % 16) * (17 + ch * 2)) % 256
              WHEN kind = 2 THEN (r * 7 + c * 13 + ch * 11 + img_id * 29) % 256
              ELSE ((c // 17) * 31 + r * 5 + ch * 3 + img_id) % 256
         END AS v
  FROM px)
SELECT img_id, CAST(MAX(h) AS INT) AS h, CAST(MAX(w) AS INT) AS w,
       CAST(MAX(nch) AS INT) AS nch, TRUE AS sniff_ok,
       CAST(SUM(v * (1 + pos % 97)) AS BIGINT) AS checksum
FROM vals GROUP BY img_id"""


def q_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL animated GIF end to end (sources/gif.py): 8 deterministic
    multi-frame GIFs (formula-indexed frames over a formula palette,
    odd ids carry transparency with index 0, every third interlaced)
    are encoded and decoded back executor-side through the full
    LZW + interlace + animation-compositing pipeline; the DuckDB
    oracle re-derives every composited RGBA canvas purely
    arithmetically (last-non-transparent-frame-wins per pixel) and
    matches the position-weighted checksum exactly — GIF is lossless,
    so one wrong pixel anywhere fails the gate."""
    import pandas as pd

    from .operators import multimodal as MM
    from .sources import gif as G

    def gen(batches):
        import numpy as np

        for pdf in batches:
            outs = []
            for vid_ in pdf["id"].tolist():
                v = int(vid_)
                h, w = _GIF_SIZES[v % 4]
                nf = 3 + v % 4
                i = np.arange(16, dtype=np.int64)
                pal = np.stack([(i * 37 + v) % 256, (i * 59 + 3 * v) % 256,
                                (i * 83 + 7 * v) % 256], axis=1).astype(np.uint8)
                r = np.arange(h, dtype=np.int64)[:, None]
                c = np.arange(w, dtype=np.int64)[None, :]
                frames = [((r * 3 + c * 5 + j * 11 + v) % 16).astype(np.uint8)
                          for j in range(nf)]
                buf = G.encode(
                    frames, pal,
                    transparent=0 if v % 2 == 1 else None,
                    delays_cs=[2 * (j + 1) + v for j in range(nf)],
                    disposal=1, interlace=(v % 3 == 0),
                )
                outs.append(pd.DataFrame({"gif_id": [v], "bytes": [buf]}))
            yield pd.concat(outs) if outs else pd.DataFrame(
                columns=["gif_id", "bytes"])

    gifs = spark.range(8).repartition(4).mapInPandas(
        gen, schema="gif_id long, bytes binary")
    return MM.gif_frames(gifs)


def sql_gif_frames() -> str:
    dims = ", ".join(f"({i}, {h}, {w})" for i, (h, w) in enumerate(_GIF_SIZES))
    return f"""
WITH sizes(s, h, w) AS (VALUES {dims}),
g AS (SELECT CAST(v.range AS BIGINT) AS v, s.h, s.w,
             3 + v.range % 4 AS nf
      FROM range(8) v JOIN sizes s ON s.s = v.range % 4),
fr AS (SELECT g.*, k.range AS k FROM g CROSS JOIN range(6) k
       WHERE k.range < g.nf),
px AS (SELECT fr.v, fr.k, fr.h, fr.w, r.range AS r, c.range AS c
       FROM fr CROSS JOIN range(24) r CROSS JOIN range(40) c
       WHERE r.range < fr.h AND c.range < fr.w),
js AS (SELECT v, k, r, c, MAX(j.range) AS jstar
       FROM px CROSS JOIN range(6) j
       WHERE j.range <= px.k
         AND NOT (v % 2 = 1 AND (r * 3 + c * 5 + j.range * 11 + v) % 16 = 0)
       GROUP BY v, k, r, c),
cell AS (SELECT px.v, px.k, px.h, px.w, px.r, px.c, js.jstar
         FROM px LEFT JOIN js
           ON js.v = px.v AND js.k = px.k AND js.r = px.r AND js.c = px.c),
vals AS (SELECT v, k, h, w,
       (r * w + c) * 4 + ch.range AS pos,
       CASE WHEN jstar IS NULL THEN 0
            WHEN ch.range = 3 THEN 255
            WHEN ch.range = 0 THEN (((r*3 + c*5 + jstar*11 + v) % 16) * 37 + v) % 256
            WHEN ch.range = 1 THEN (((r*3 + c*5 + jstar*11 + v) % 16) * 59 + 3*v) % 256
            ELSE (((r*3 + c*5 + jstar*11 + v) % 16) * 83 + 7*v) % 256
       END AS val
  FROM cell CROSS JOIN range(4) ch)
SELECT v AS gif_id, CAST(k AS BIGINT) AS frame_idx,
       CAST(2 * (k + 1) + v AS BIGINT) AS delay_cs,
       CAST(MAX(w) AS INT) AS w, CAST(MAX(h) AS INT) AS h,
       CAST(SUM(val * (1 + pos % 97)) AS BIGINT) AS checksum
FROM vals GROUP BY v, k"""


def q_mp4_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ISO-BMFF (MP4) container demux end to end: 16 deterministic
    single-track videos (formula-sized coded samples grouped 7 per
    chunk) are BUILT and re-demuxed executor-side through the real box
    walk + stsc x stco x stsz sample-table resolution + stss keyframes
    (sources/mp4.py); every sample's absolute byte offset, size, pts,
    sync flag and payload checksum is hashed against a DuckDB oracle
    that re-derives the mdat layout arithmetically (fixed header + a
    running sum of the size formula) — proving the demuxer reads back
    exactly the bytes the spec-built file placed. Payload DECODE stays
    the declared stub (no video codec libs)."""
    import pandas as pd

    from .operators import multimodal as MM
    from .sources import mp4 as M4

    def gen(batches):
        for pdf in batches:
            outs = []
            for vid_ in pdf["id"].tolist():
                v = int(vid_)
                n = 12 + v % 9
                payloads = [
                    bytes((v + i * 7 + k) % 256
                          for k in range(50 + ((v * 31 + i * 17) % 200)))
                    for i in range(n)
                ]
                buf = M4.build_minimal_mp4(payloads)
                outs.append(pd.DataFrame({"video_id": [v], "bytes": [buf]}))
            yield pd.concat(outs) if outs else pd.DataFrame(
                columns=["video_id", "bytes"])

    videos = spark.range(16).repartition(4).mapInPandas(
        gen, schema="video_id long, bytes binary")
    return MM.video_samples(videos)


def sql_mp4_samples() -> str:
    from .sources import mp4 as M4

    start = M4.MDAT_PAYLOAD_START
    return f"""WITH v AS (SELECT range AS video_id FROM range(16)),
s AS (
  SELECT v.video_id, i.range AS sample_idx,
         50 + ((v.video_id * 31 + i.range * 17) % 200) AS byte_size
  FROM v CROSS JOIN range(21) i
  WHERE i.range < 12 + v.video_id % 9),
placed AS (
  SELECT video_id, sample_idx, byte_size,
         {start} + COALESCE(SUM(byte_size) OVER (
             PARTITION BY video_id ORDER BY sample_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS byte_offset
  FROM s),
sums AS (
  SELECT p.video_id, p.sample_idx,
         SUM((p.video_id + p.sample_idx * 7 + k.range) % 256) AS checksum
  FROM placed p CROSS JOIN range(250) k
  WHERE k.range < p.byte_size
  GROUP BY 1, 2)
SELECT p.video_id, p.sample_idx, CAST(p.byte_offset AS BIGINT) AS byte_offset,
       CAST(p.byte_size AS BIGINT) AS byte_size,
       CAST(p.sample_idx * 3000 * 1000 // 90000 AS BIGINT) AS pts_ms,
       p.sample_idx % 10 = 0 AS is_sync,
       CAST(sums.checksum AS BIGINT) AS checksum
FROM placed p JOIN sums ON sums.video_id = p.video_id
                       AND sums.sample_idx = p.sample_idx"""


def q_mjpeg_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video END TO END — no stub on this path: 8 Motion-JPEG
    MP4s (12 formula frames each, JPEG-coded, spec-built container)
    are demuxed by the real ISO-BMFF parser, 4 sync frames picked per
    video, and each coded sample decoded by the real JPEG codec.
    Dims, sample/pts arithmetic, and the PSNR>=30 audit vs the formula
    original are hashed (JPEG is lossy — same audit contract as
    jpeg_roundtrip). Inter-frame codecs (avc1/hevc) stay the declared
    stub; MJPEG is a real, complete video family."""
    import pandas as pd

    from .sources import jpeg as J
    from .sources import mp4 as M4

    def gen(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for vid_ in pdf["id"].tolist():
                v = int(vid_)
                h, w = 32, 48
                r = np.arange(h)[:, None]
                c = np.arange(w)[None, :]
                frames = [
                    (128 + 90 * np.sin(r / 5.0 + v * 0.3 + i * 0.17)
                     * np.cos(c / 6.0)).astype(np.uint8)
                    for i in range(12)
                ]
                buf = M4.build_minimal_mp4(
                    [J.encode_gray(f, 90) for f in frames],
                    codec="mjpg", sync_every=3)
                _info, samples = M4.extract_samples(buf)
                sync = [s for s in samples if s[4]]
                picks = [sync[i * len(sync) // 4] for i in range(4)]
                for fi, (si, _o, _sz, pts_ms, _sy, payload) in enumerate(picks):
                    img = J.decode_gray(payload)
                    rows.append({
                        "video_id": v, "frame_idx": fi, "sample_idx": si,
                        "pts_ms": pts_ms,
                        "w": int(img.shape[1]), "h": int(img.shape[0]),
                        "psnr_ge_30": bool(J.psnr_u8(frames[si], img) >= 30.0),
                    })
            yield pd.DataFrame(rows, columns=[
                "video_id", "frame_idx", "sample_idx", "pts_ms",
                "w", "h", "psnr_ge_30"])

    return spark.range(8).repartition(4).mapInPandas(
        gen, schema="video_id long, frame_idx long, sample_idx long, "
                    "pts_ms long, w int, h int, psnr_ge_30 boolean")


def sql_mjpeg_frames() -> str:
    return """SELECT CAST(v.range AS BIGINT) AS video_id,
       CAST(i.range AS BIGINT) AS frame_idx,
       CAST(i.range * 3 AS BIGINT) AS sample_idx,
       CAST(i.range * 3 * 3000 * 1000 // 90000 AS BIGINT) AS pts_ms,
       CAST(48 AS INT) AS w, CAST(32 AS INT) AS h,
       TRUE AS psnr_ge_30
FROM range(8) v CROSS JOIN range(4) i"""


def q_video_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r5: VIDEO near-duplicate detection end to end — MJPEG videos
    flow into the image dedup stack (verdict item 8). 8 spec-built
    MP4s (videos v and v+4 share the frame formula; the other six are
    grossly different) are demuxed by the real ISO-BMFF parser, 4 sync
    frames JPEG-decoded per video, per-frame 64-bit phash computed,
    then frame-level banded-LSH blocking (phash_near_dup_pairs — the
    pigeonhole-exact inverted index, never video x video) joins
    position-aligned frames within hamming<=3 and rolls up to video
    pairs. The fixture's ground truth is structural: exactly the four
    (v, v+4) pairs match, all 4 frames each, hamming 0."""
    import pandas as pd

    from .operators import dedup as DD
    from .sources import codec as CD
    from .sources import jpeg as J
    from .sources import mp4 as M4

    def gen(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for vid_ in pdf["id"].tolist():
                v = int(vid_)
                h, w = 32, 48
                r = np.arange(h)[:, None]
                c = np.arange(w)[None, :]
                base = v % 4  # v and v+4 share the formula
                frames = [
                    (128 + 90 * np.sin(r / (3.0 + base) + base * 0.7
                                       + i * 0.19)
                     * np.cos(c / (4.0 + base * 2))).astype(np.uint8)
                    for i in range(12)
                ]
                buf = M4.build_minimal_mp4(
                    [J.encode_gray(f, 90) for f in frames],
                    codec="mjpg", sync_every=3)
                _info, samples = M4.extract_samples(buf)
                sync = [s for s in samples if s[4]]
                picks = [sync[i * len(sync) // 4] for i in range(4)]
                for fi, (_si, _o, _sz, _pts, _sy, payload) in enumerate(picks):
                    ph = CD.average_hash(J.decode_gray(payload), -1.0)
                    rows.append({"image_id": v * 4 + fi, "phash": ph})
            yield pd.DataFrame(rows, columns=["image_id", "phash"])

    frames = spark.range(8).repartition(4).mapInPandas(
        gen, schema="image_id long, phash long")
    pairs = DD.phash_near_dup_pairs(frames, max_hamming=3)
    # roll frame pairs up to video pairs: same frame position only
    return (
        pairs
        .filter((F.col("img_a") % 4) == (F.col("img_b") % 4))
        .select((F.col("img_a") / 4).cast("long").alias("vid_a"),
                (F.col("img_b") / 4).cast("long").alias("vid_b"),
                "hamming")
        .filter(F.col("vid_a") != F.col("vid_b"))
        .groupBy("vid_a", "vid_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_close_frames"),
             F.sum("hamming").cast("long").alias("sum_hamming"))
    )


def sql_video_near_dup() -> str:
    """Structural ground truth of the constructed fixture (DuckDB has
    no MP4/JPEG decoder — same contract as the mjpeg_frames gate):
    exactly the four formula-sharing pairs, all 4 frames, hamming 0."""
    return """SELECT CAST(v.range AS BIGINT) AS vid_a,
       CAST(v.range + 4 AS BIGINT) AS vid_b,
       CAST(4 AS BIGINT) AS n_close_frames,
       CAST(0 AS BIGINT) AS sum_hamming
FROM range(4) v"""


def q_apng_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Animated PNG (acTL/fcTL/fdAT) end to end: 6 deterministic
    3-frame APNGs — full-canvas base, then a sub-rectangle frame with
    binary-alpha BLEND-OVER and per-id dispose op (none/background/
    previous), then a sub-rectangle SOURCE frame — are encoded and
    decoded back executor-side through the real chunk walk + per-frame
    zlib/filter pipeline + compositor. APNG is lossless and the alpha
    mask is binary, so the gate is hash-exact: a position-weighted
    checksum over every composited RGBA canvas, re-derived in DuckDB
    by repeating the offset/blend/dispose arithmetic per pixel."""
    import pandas as pd

    from .sources import png as P

    def gen(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for vid_ in pdf["id"].tolist():
                v = int(vid_)
                h, w = 18 + v, 24 + 2 * v
                r = np.arange(h, dtype=np.int64)[:, None, None]
                c = np.arange(w, dtype=np.int64)[None, :, None]
                ch = np.arange(4, dtype=np.int64)[None, None, :]
                f0 = ((r * 7 + c * 13 + ch * 11 + v * 29) % 256).astype(np.uint8)
                f0[..., 3] = 255
                r1 = np.arange(6, dtype=np.int64)[:, None, None]
                c1 = np.arange(8, dtype=np.int64)[None, :, None]
                f1 = ((r1 * 17 + c1 * 19 + ch * 23 + v) % 256).astype(np.uint8)
                f1[..., 3] = np.where(
                    ((r1[..., 0] * 3 + c1[..., 0] * 5 + v) % 4) != 0, 255, 0
                ).astype(np.uint8)
                r2 = np.arange(5, dtype=np.int64)[:, None, None]
                c2 = np.arange(7, dtype=np.int64)[None, :, None]
                f2 = ((r2 * 31 + c2 * 37 + ch * 41 + v * 3) % 256).astype(np.uint8)
                f2[..., 3] = 255
                x1, y1 = 3 + v % 3, 2 + v % 2
                buf = P.encode_apng(
                    [f0, f1, f2], offsets=[(0, 0), (x1, y1), (4, 1)],
                    dispose=[0, v % 3, 0], blend=[0, 1, 0],
                    delays=[(2 + v, 100)] * 3)
                canvases, meta = P.decode_apng(buf)
                pos = ((np.arange(h)[:, None, None] * w
                        + np.arange(w)[None, :, None]) * 4
                       + np.arange(4)[None, None, :])
                wgt = 1 + pos % 97
                for k, canvas in enumerate(canvases):
                    rows.append({
                        "apng_id": v, "frame_idx": k,
                        "delay_num": int(meta[k]["delay_num"]),
                        "w": w, "h": h,
                        "checksum": int((canvas.astype(np.int64) * wgt).sum()),
                    })
            yield pd.DataFrame(rows, columns=[
                "apng_id", "frame_idx", "delay_num", "w", "h", "checksum"])

    return spark.range(6).repartition(3).mapInPandas(
        gen, schema="apng_id long, frame_idx long, delay_num long, "
                    "w int, h int, checksum long")


def sql_apng_frames() -> str:
    return """
WITH g AS (SELECT CAST(range AS BIGINT) AS v, 18 + range AS h,
                  24 + 2 * range AS w,
                  3 + range % 3 AS x1, 2 + range % 2 AS y1
           FROM range(6)),
px AS (SELECT g.*, r.range AS r, c.range AS c, ch.range AS ch
       FROM g CROSS JOIN range(23) r CROSS JOIN range(34) c
       CROSS JOIN range(4) ch
       WHERE r.range < g.h AND c.range < g.w),
v0 AS (SELECT *,
        CASE WHEN ch = 3 THEN 255
             ELSE (r * 7 + c * 13 + ch * 11 + v * 29) % 256 END AS f0
       FROM px),
v1 AS (SELECT *,
        -- frame 1 covers rows y1..y1+5, cols x1..x1+7 with binary alpha
        (r >= y1 AND r < y1 + 6 AND c >= x1 AND c < x1 + 8) AS in1,
        CASE WHEN r >= y1 AND r < y1 + 6 AND c >= x1 AND c < x1 + 8
             AND ((r - y1) * 3 + (c - x1) * 5 + v) % 4 != 0
             THEN TRUE ELSE FALSE END AS op1,
        CASE WHEN ch = 3 THEN 255
             ELSE ((r - y1) * 17 + (c - x1) * 19 + ch * 23 + v) % 256
        END AS f1
       FROM v0),
-- canvas after frame 1: opaque frame-1 pixels replace (alpha 255 both)
c1 AS (SELECT *, CASE WHEN op1 THEN f1 ELSE f0 END AS k1 FROM v1),
-- dispose after frame 1: v%3 = 0 none, 1 clear rect to 0, 2 previous
c2base AS (SELECT *,
        CASE WHEN v % 3 = 1 AND in1 THEN 0
             WHEN v % 3 = 2 THEN f0
             ELSE k1 END AS base2
       FROM c1),
c2 AS (SELECT *,
        CASE WHEN r >= 1 AND r < 6 AND c >= 4 AND c < 11 THEN
          CASE WHEN ch = 3 THEN 255
               ELSE ((r - 1) * 31 + (c - 4) * 37 + ch * 41 + v * 3) % 256 END
        ELSE base2 END AS k2
       FROM c2base),
frames AS (
  SELECT v, h, w, 0 AS k, r, c, ch, f0 AS val FROM c2
  UNION ALL
  SELECT v, h, w, 1 AS k, r, c, ch, k1 AS val FROM c2
  UNION ALL
  SELECT v, h, w, 2 AS k, r, c, ch, k2 AS val FROM c2)
SELECT v AS apng_id, CAST(k AS BIGINT) AS frame_idx,
       CAST(2 + v AS BIGINT) AS delay_num,
       CAST(MAX(w) AS INT) AS w, CAST(MAX(h) AS INT) AS h,
       CAST(SUM(val * (1 + ((r * w + c) * 4 + ch) % 97)) AS BIGINT)
         AS checksum
FROM frames GROUP BY v, k"""


def _media_fixture_dir() -> str:
    """Build (idempotently) the 14-file mixed-media fixture dir used by
    media_ingest and media_features."""
    import os
    import tempfile

    import numpy as np

    from .sources import flac as FL
    from .sources import g711
    from .sources import geotiff as GT
    from .sources import gif as G
    from .sources import jpeg as J
    from .sources import mp4 as M4
    from .sources import png as P

    d = os.path.join(tempfile.gettempdir(), "georasters_media_ingest_fixture")
    os.makedirs(d, exist_ok=True)
    pal = np.stack([np.arange(16) * 17] * 3, axis=1).astype(np.uint8)
    for f in range(8):
        h, w = 10 + f, 14 + 2 * f
        r = np.arange(h, dtype=np.int64)[:, None]
        c = np.arange(w, dtype=np.int64)[None, :]
        img = ((r * 7 + c * 13 + f * 29) % 256).astype(np.uint8)
        kind = f % 4
        if kind == 0:
            name, buf = f"m{f:02d}.png", P.encode(img)
        elif kind == 1:
            name, buf = f"m{f:02d}.gif", G.encode(img >> 4, pal)
        elif kind == 2:
            name, buf = f"m{f:02d}.jpg", J.encode_gray(img, 85)
        else:
            name, buf = f"m{f:02d}.tif", GT.write_tiff(
                img.astype(np.int16), bigtiff=(f == 7))
        with open(os.path.join(d, name), "wb") as fh:
            fh.write(buf)
    i = np.arange(300, dtype=np.int64)
    pcm = ((i * i * 7 + i * 31) % 65536 - 32768).astype(np.int16)
    fixtures = {
        "m08.wav": g711.encode_wav_g711(pcm, 8000, "ulaw"),
        "m09.flac": FL.encode_flac(pcm.reshape(-1, 1), 8000),
        "m10.mp4": M4.build_minimal_mp4([bytes(50), bytes(60)]),
        "m11.bin": b"not any media format at all",
    }
    from .sources import bmp as BMP

    r12 = np.arange(9, dtype=np.int64)[:, None]
    c12 = np.arange(13, dtype=np.int64)[None, :]
    fixtures["m12.bmp"] = BMP.encode(
        ((r12 * 3 + c12 * 5) % 16).astype(np.uint8),
        np.stack([np.arange(16) * 17] * 3, axis=1).astype(np.uint8),
        rle=True)
    from .sources import qoi as QO

    r13 = np.arange(11, dtype=np.int64)[:, None, None]
    c13 = np.arange(15, dtype=np.int64)[None, :, None]
    ch13 = np.arange(3, dtype=np.int64)[None, None, :]
    fixtures["m13.qoi"] = QO.encode(
        ((r13 * 7 + c13 * 13 + ch13 * 11) % 256).astype(np.uint8))
    for name, buf in fixtures.items():
        with open(os.path.join(d, name), "wb") as fh:
            fh.write(buf)
    return d


def q_media_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media-lake ingest source end to end: 14 deterministic files —
    PNG, GIF, JPEG, GeoTIFF (two sizes each), a G.711 WAV, a FLAC, an
    MP4, a BMP, a QOI and an unknown blob — are written to a scratch dir, scanned by
    the binaryFile source (one Spark task per file, the load_tiff
    shape), magic-sniffed and header-probed by
    multimodal.load_media_files. The gate pins (fmt, w, h) per file —
    dims come from the HEADER probe only, so a wrong IHDR/SOF/IFD/
    screen-descriptor offset anywhere fails exactly."""
    from .operators import multimodal as MM

    d = _media_fixture_dir()
    return MM.load_media_files(spark, d).select("media_id", "fmt", "w", "h")


def sql_media_ingest() -> str:
    rows = []
    for f in range(8):
        h, w = 10 + f, 14 + 2 * f
        kind = f % 4
        ext = ("png", "gif", "jpg", "tif")[kind]
        fmt = ("pngc", "gif", "jpeg", "tiff")[kind]
        rows.append(f"('m{f:02d}.{ext}', '{fmt}', {w}, {h})")
    rows += ["('m08.wav', 'wav', 0, 0)", "('m09.flac', 'flac', 0, 0)",
             "('m10.mp4', 'mp4', 0, 0)", "('m11.bin', 'unknown', 0, 0)",
             "('m12.bmp', 'bmp', 13, 9)", "('m13.qoi', 'qoi', 15, 11)"]
    return ("SELECT media_id, fmt, CAST(w AS INT) AS w, CAST(h AS INT) AS h "
            "FROM (VALUES " + ", ".join(rows)
            + ") AS t(media_id, fmt, w, h)")


def q_gif_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Animated GIFs flow into the image dedup stack (the gif analog of
    video_near_dup): 8 spec-built 4-frame GIFs (v and v+4 share the
    frame formula quantized to a 16-entry gray palette; the other six
    are grossly different) are encoded, decoded back through the full
    LZW + compositing pipeline, per-frame 64-bit phash computed on the
    composited luminance, then frame-level banded-LSH blocking
    (phash_near_dup_pairs — pigeonhole-exact, never gif x gif) joins
    position-aligned frames and rolls up to gif pairs. Ground truth is
    structural: GIF is LOSSLESS, so exactly the four (v, v+4) pairs
    match all 4 frames at hamming 0."""
    import pandas as pd

    from .operators import dedup as DD
    from .sources import codec as CD
    from .sources import gif as G

    def gen(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for vid_ in pdf["id"].tolist():
                v = int(vid_)
                h, w = 32, 48
                r = np.arange(h)[:, None]
                c = np.arange(w)[None, :]
                base = v % 4  # v and v+4 share the formula
                frames = [
                    ((128 + 90 * np.sin(r / (3.0 + base) + base * 0.7
                                        + i * 0.19)
                      * np.cos(c / (4.0 + base * 2))).astype(np.uint8) >> 4)
                    for i in range(4)
                ]
                pal = np.stack([np.arange(16) * 17] * 3, axis=1).astype(np.uint8)
                buf = G.encode(frames, pal, interlace=(v % 2 == 1))
                meta = G.parse(buf)
                for fi, canvas in enumerate(
                        G.decode_frames(buf, parsed=meta)):
                    lum = canvas[..., 0].astype(np.float64)  # gray palette
                    ph = CD.average_hash(lum, -1.0)
                    rows.append({"image_id": v * 4 + fi, "phash": ph})
            yield pd.DataFrame(rows, columns=["image_id", "phash"])

    frames = spark.range(8).repartition(4).mapInPandas(
        gen, schema="image_id long, phash long")
    pairs = DD.phash_near_dup_pairs(frames, max_hamming=3)
    return (
        pairs
        .filter((F.col("img_a") % 4) == (F.col("img_b") % 4))
        .select((F.col("img_a") / 4).cast("long").alias("gif_a"),
                (F.col("img_b") / 4).cast("long").alias("gif_b"),
                "hamming")
        .filter(F.col("gif_a") != F.col("gif_b"))
        .groupBy("gif_a", "gif_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_close_frames"),
             F.sum("hamming").cast("long").alias("sum_hamming"))
    )


def sql_gif_near_dup() -> str:
    """Structural ground truth (DuckDB has no GIF decoder — same
    contract as video_near_dup): exactly the four formula-sharing
    pairs, all 4 frames, hamming 0 (GIF is lossless)."""
    return """SELECT CAST(v.range AS BIGINT) AS gif_a,
       CAST(v.range + 4 AS BIGINT) AS gif_b,
       CAST(4 AS BIGINT) AS n_close_frames,
       CAST(0 AS BIGINT) AS sum_hamming
FROM range(4) v"""


def q_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Euclidean distance transform (gdal_proximity role) —
    separable two-stage grouped-map vs a brute-force min-join oracle.
    Targets: value % 89 == 0 (~1.3% of cells)."""
    from .operators import proximity as PR

    dem = _dem(spark, 96, 96)
    return PR.proximity(dem, F.col("value") % 89 == 0)


def sql_proximity() -> str:
    from .operators import proximity as PR

    return PR.proximity_sql(_dem_cte(96, 96), "value % 89 = 0")


def q_fillnodata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_fillnodata role (proximity.fillnodata): nodata cells
    (value % 13 == 0, ~7.7%) take the value of their nearest valid
    cell — exact EDT dist², then sum-of-two-squares circle offsets
    equi-join the candidates and a canonical (row, col) min_by breaks
    distance ties. EXACT oracle: brute-force arg_min over all valid
    cells with the same composite (d², row, col) key."""
    from .operators import proximity as PR

    dem = _dem(spark, 96, 96)
    return PR.fillnodata(dem, F.col("value") % 13 != 0)


def sql_fillnodata() -> str:
    from .operators import proximity as PR

    spec = SPEC
    cte = f"""pall AS (
  SELECT CAST(r.range AS BIGINT) AS row, CAST(c.range AS BIGINT) AS col,
         CAST((r.range*7919 + c.range*104729 + {spec.seed}) % 1997 AS BIGINT) AS value
  FROM range(96) r CROSS JOIN range(96) c),
px AS (SELECT * FROM pall WHERE value % 13 <> 0)"""
    return PR.fillnodata_sql(cte, 96, 96)


_CONTOUR_LEVELS = [500.0, 1000.0, 1500.0]


def q_contour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marching-squares isolines (gdal_contour role) on a 96x96 dense
    DEM window at three levels — endpoints AND lengths hashed."""
    from .operators import contour as CT

    return CT.contour_segments(_dem(spark, 96, 96), levels=_CONTOUR_LEVELS)


def sql_contour() -> str:
    from .operators import contour as CT

    return CT.contour_sql(_dem_cte(96, 96), levels=_CONTOUR_LEVELS)


def q_d8_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import terrain as TR

    return TR.d8_flow_direction(_dem(spark, SPEC.height, SPEC.width))


def sql_d8_flow() -> str:
    from .operators import terrain as TR

    return ("WITH " + TR.d8_sql(_dem_cte(SPEC.height, SPEC.width))
            + "\nSELECT row, col, value, d8 FROM d8")


def q_flow_accumulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import terrain as TR

    return TR.flow_accumulation(_dem(spark, 128, 128))


def sql_flow_accumulation() -> str:
    from .operators import terrain as TR

    return TR.flow_accumulation_sql(_dem_cte(128, 128))


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The media lake composed end to end: the mixed-format fixture dir
    is binaryFile-scanned + sniffed (load_media_files), the LOSSLESS
    raster rows (png/gif/tiff/qoi — jpeg is lossy and excluded from
    the exact contract; QOI color collapses to BT.601 luminance) flow straight into image_features' Arrow kernel
    with NO per-format branching in the pipeline — the fmt column
    drives decode_any. Gate pins f_mean/f_std/f_min/f_max per file
    against a DuckDB oracle that recomputes them from the pixel
    formulas (values are exact integers, so the 6-dp-rounded moments
    agree bit-for-bit)."""
    from pyspark.sql import functions as F

    from .operators import multimodal as MM

    d = _media_fixture_dir()
    media = MM.load_media_files(spark, d)
    imgs = (media.filter(F.col("fmt").isin("pngc", "gif", "tiff", "qoi"))
            .select(F.col("media_id").alias("image_id"),
                    "bytes", "fmt", "w", "h"))
    return MM.image_features(imgs).select(
        "image_id", "f_mean", "f_std", "f_min", "f_max")


def sql_media_features() -> str:
    return """
WITH g AS (SELECT range AS f, 10 + range AS h, 14 + 2 * range AS w,
                  range % 4 AS kind
           FROM range(8) WHERE range % 4 != 2),
px AS (SELECT g.f, g.kind, g.h, g.w, r.range AS r, c.range AS c
       FROM g CROSS JOIN range(17) r CROSS JOIN range(28) c
       WHERE r.range < g.h AND c.range < g.w),
vals AS (SELECT f, kind, h, w,
          CASE WHEN kind = 1
               THEN (((r * 7 + c * 13 + f * 29) % 256) // 16) * 17
               ELSE (r * 7 + c * 13 + f * 29) % 256 END AS v
         FROM px)
SELECT 'm0' || CAST(f AS VARCHAR) ||
       CASE kind WHEN 0 THEN '.png' WHEN 1 THEN '.gif' ELSE '.tif' END
         AS image_id,
       ROUND(AVG(v), 6) AS f_mean,
       ROUND(STDDEV_POP(v), 6) AS f_std,
       CAST(MIN(v) AS DOUBLE) AS f_min,
       CAST(MAX(v) AS DOUBLE) AS f_max
FROM vals GROUP BY f, kind
UNION ALL
SELECT 'm13.qoi' AS image_id,
       ROUND(AVG(v), 6) AS f_mean,
       ROUND(STDDEV_POP(v), 6) AS f_std,
       CAST(MIN(v) AS DOUBLE) AS f_min,
       CAST(MAX(v) AS DOUBLE) AS f_max
FROM (SELECT (299 * ((r.range * 7 + c.range * 13) % 256)
            + 587 * ((r.range * 7 + c.range * 13 + 11) % 256)
            + 114 * ((r.range * 7 + c.range * 13 + 22) % 256)) // 1000 AS v
      FROM range(11) r CROSS JOIN range(15) c)"""


# --------------------------------------------------------------------------
# shapefile-driven zonal stats (round 6)
# --------------------------------------------------------------------------

# (name, code, weight, parts) — weight values are exact binary
# fractions so the .dbf N(8,2) decimal round-trips bit-identically
_SHP_ZONES = [
    ("concave", 11, 3.25,
     [[(-150.2, -80.3), (-90.4, -80.3), (-90.4, -50.6),
       (-120.1, -50.6), (-120.1, -30.2), (-150.2, -30.2)]]),
    ("donut", 23, 7.5,
     [[(20.3, 10.4), (90.7, 10.4), (90.7, 60.1), (20.3, 60.1)],
      [(40.2, 25.3), (70.8, 25.3), (70.8, 45.7), (40.2, 45.7)]]),
    ("twins", 37, 1.75,
     [[(120.1, -40.3), (165.7, -35.2), (140.3, 5.1)],
      [(100.2, 20.3), (150.8, 30.7), (125.3, 60.2)]]),
]


def q_shapefile_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship workflow, shapefile in (reference
    scripts/spatial_script.py:38-49: ``gp.read_file(COL.shp)`` →
    ``data.clip``/``stats``), with the vector source from scratch:
    spec-built .shp + .shx + .dbf fixture bytes
    (sources/shapefile.py encoders) are parsed BACK by the struct
    readers — a concave hexagon, a donut (outer + hole ring in one
    record) and a two-part multipolygon — then zonal statistics run
    through the fused partial-aggregate plan with even-odd PIP, and
    the .dbf attribute columns (C / N(4,0) / N(8,2) fields) join onto
    the result.  EXACT oracle: the crossing-number predicate and the
    attribute literals re-derived in SQL (zone_sql_predicate_evenodd
    — concave/hole/multipart zones, beyond the convex-only half-plane
    oracle)."""
    from .sources import shapefile as SHPF

    spec = SPEC
    shp, shx = SHPF.encode_shp([parts for *_, parts in _SHP_ZONES])
    dbf = SHPF.encode_dbf(
        [("NAME", "C", 10, 0), ("CODE", "N", 4, 0), ("WEIGHT", "N", 8, 2)],
        [{"NAME": n, "CODE": c, "WEIGHT": w} for n, c, w, _ in _SHP_ZONES])
    # decode_shp validates against the .shx index too
    SHPF.decode_shp(shp, shx)
    zones, attrs = SHPF.zones_from_shp(shp, dbf)
    zdf = spark.createDataFrame(
        [(z.zone_id, a["NAME"], int(a["CODE"]), float(a["WEIGHT"]))
         for z, a in zip(zones, attrs)],
        "zone_id long, name string, code long, weight double")
    zs = SJ.zonal_stats_fused(
        images_for(spark, spec), zones,
        origin=(spec.x0, spec.y0), cellsize=(spec.cellx, spec.celly),
        mode="center")
    return zs.join(F.broadcast(zdf), "zone_id").select(
        "zone_id", "name", "code", "weight",
        "zcount", "zsum", "zmin", "zmax", "zmean", "zstd")


def sql_shapefile_zonal() -> str:
    spec = SPEC
    preds = []
    for i, (n, _c, _w, parts) in enumerate(_SHP_ZONES):
        z = synth.Zone(i + 1, n, tuple(tuple(p) for p in parts))
        preds.append(
            f"SELECT {i + 1} AS zone_id, px.value FROM px WHERE "
            + synth.zone_sql_predicate_evenodd(z, "px.xc", "px.yc"))
    attrs = " UNION ALL ".join(
        f"SELECT {i + 1} AS zone_id, '{n}' AS name, "
        f"CAST({c} AS BIGINT) AS code, CAST({w!r} AS DOUBLE) AS weight"
        for i, (n, c, w, _p) in enumerate(_SHP_ZONES))
    return f"""WITH {synth.pixel_sql(spec)}, hits AS ({' UNION ALL '.join(preds)}),
attrs AS ({attrs}),
base AS (
  SELECT zone_id,
       CAST(COUNT(value) AS BIGINT) AS zcount,
       CAST(SUM(value) AS BIGINT) AS zsum,
       CAST(MIN(value) AS BIGINT) AS zmin,
       CAST(MAX(value) AS BIGINT) AS zmax,
       ROUND(CAST(SUM(value) AS DOUBLE)/COUNT(value), 6) AS zmean,
       ROUND(SQRT(CAST(SUM(value*value) AS DOUBLE)/COUNT(value)
             - (CAST(SUM(value) AS DOUBLE)/COUNT(value))*(CAST(SUM(value) AS DOUBLE)/COUNT(value))), 6) AS zstd
  FROM hits GROUP BY zone_id)
SELECT b.zone_id, a.name, a.code, a.weight,
       b.zcount, b.zsum, b.zmin, b.zmax, b.zmean, b.zstd
FROM base b JOIN attrs a USING (zone_id)"""


_GJ_ZONES = [
    ("wedge", 41, 2.25,
     [[(-60.4, 10.2), (-10.3, 10.2), (-10.3, 70.6),
       (-35.2, 40.1), (-60.4, 70.6)]]),
    ("ring", 53, 9.5,
     [[(-170.3, 20.1), (-100.2, 20.1), (-100.2, 80.4), (-170.3, 80.4)],
      [(-150.6, 35.2), (-120.4, 35.2), (-120.4, 65.3), (-150.6, 65.3)]]),
    ("pair", 67, 0.75,
     [[(30.2, -70.3), (80.6, -65.1), (55.4, -20.2)],
      [(100.3, -60.2), (160.7, -50.4), (130.2, -15.3)]]),
]


def q_geojson_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GeoJSON twin of shapefile_zonal (the reference reads vector
    zones via geopandas — RFC 7946 GeoJSON is its other ubiquitous
    driver): a FeatureCollection fixture is BUILT by the writer
    (sources/geojson.py encode_feature_collection — RFC ring
    orientation, closed rings, sorted keys) for a concave pentagon and
    a donut, then a hand-built MultiPolygon feature (two triangles —
    the geometry type the .shp gate can't express as one GeoJSON
    object) is appended; the reader parses the text back into zones +
    properties and zonal statistics run through the fused even-odd-PIP
    plan with the JSON properties joined on.  EXACT oracle: the
    crossing-number predicate and property literals re-derived in
    SQL."""
    import json as _json

    from .sources import geojson as GJ

    spec = SPEC
    text = GJ.encode_feature_collection([
        (tuple(tuple(p) for p in parts),
         {"name": n, "code": c, "weight": w})
        for n, c, w, parts in _GJ_ZONES[:2]])
    fc = _json.loads(text)
    n, c, w, parts = _GJ_ZONES[2]
    fc["features"].append({
        "type": "Feature",
        "geometry": {"type": "MultiPolygon", "coordinates": [
            [[list(p) for p in tri] + [list(tri[0])]] for tri in parts]},
        "properties": {"name": n, "code": c, "weight": w},
    })
    zones, attrs = GJ.zones_from_geojson(_json.dumps(fc))
    zdf = spark.createDataFrame(
        [(z.zone_id, a["name"], int(a["code"]), float(a["weight"]))
         for z, a in zip(zones, attrs)],
        "zone_id long, name string, code long, weight double")
    zs = SJ.zonal_stats_fused(
        images_for(spark, spec), zones,
        origin=(spec.x0, spec.y0), cellsize=(spec.cellx, spec.celly),
        mode="center")
    return zs.join(F.broadcast(zdf), "zone_id").select(
        "zone_id", "name", "code", "weight",
        "zcount", "zsum", "zmin", "zmax", "zmean", "zstd")


def sql_geojson_zonal() -> str:
    spec = SPEC
    preds = []
    for i, (n, _c, _w, parts) in enumerate(_GJ_ZONES):
        z = synth.Zone(i + 1, n, tuple(tuple(p) for p in parts))
        preds.append(
            f"SELECT {i + 1} AS zone_id, px.value FROM px WHERE "
            + synth.zone_sql_predicate_evenodd(z, "px.xc", "px.yc"))
    attrs = " UNION ALL ".join(
        f"SELECT {i + 1} AS zone_id, '{n}' AS name, "
        f"CAST({c} AS BIGINT) AS code, CAST({w!r} AS DOUBLE) AS weight"
        for i, (n, c, w, _p) in enumerate(_GJ_ZONES))
    return f"""WITH {synth.pixel_sql(spec)}, hits AS ({' UNION ALL '.join(preds)}),
attrs AS ({attrs}),
base AS (
  SELECT zone_id,
       CAST(COUNT(value) AS BIGINT) AS zcount,
       CAST(SUM(value) AS BIGINT) AS zsum,
       CAST(MIN(value) AS BIGINT) AS zmin,
       CAST(MAX(value) AS BIGINT) AS zmax,
       ROUND(CAST(SUM(value) AS DOUBLE)/COUNT(value), 6) AS zmean,
       ROUND(SQRT(CAST(SUM(value*value) AS DOUBLE)/COUNT(value)
             - (CAST(SUM(value) AS DOUBLE)/COUNT(value))*(CAST(SUM(value) AS DOUBLE)/COUNT(value))), 6) AS zstd
  FROM hits GROUP BY zone_id)
SELECT b.zone_id, a.name, a.code, a.weight,
       b.zcount, b.zsum, b.zmin, b.zmax, b.zmean, b.zstd
FROM base b JOIN attrs a USING (zone_id)"""


_RASTERIZE_BURN = {1: 10.5, 2: 20.25, 3: 30.75}


def q_rasterize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_rasterize role (spatial_join.rasterize): the three
    geojson-gate zones (concave + donut + multipart) burn into the full
    SPEC lattice — lattice from two ranges, the same broadcast
    even-odd-PIP kernel as clip/zonal, MAX-zone_id overlap rule, burn
    values from a broadcast map. EXACT oracle: the crossing-number
    predicate per zone over the identical center arithmetic."""
    from .operators import spatial_join as SJL
    from .sources.geojson import zones_from_geojson  # noqa: F401 (parity)

    spec = SPEC
    zones = [synth.Zone(i + 1, n, tuple(tuple(p) for p in parts))
             for i, (n, _c, _w, parts) in enumerate(_GJ_ZONES)]
    return SJL.rasterize(
        spark, zones, origin=(spec.x0, spec.y0),
        cellsize=(spec.cellx, spec.celly),
        shape=(spec.height, spec.width), burn=_RASTERIZE_BURN)


def sql_rasterize() -> str:
    from .operators.reproject import dlit

    spec = SPEC
    preds = []
    for i, (n, _c, _w, parts) in enumerate(_GJ_ZONES):
        z = synth.Zone(i + 1, n, tuple(tuple(p) for p in parts))
        preds.append(
            f"SELECT row, col, {i + 1} AS zone_id FROM lattice WHERE "
            + synth.zone_sql_predicate_evenodd(z, "lattice.xc", "lattice.yc"))
    burns = " ".join(
        f"WHEN {z} THEN {dlit(v)}" for z, v in _RASTERIZE_BURN.items())
    return f"""WITH lattice AS (
  SELECT CAST(r.range AS BIGINT) AS row, CAST(c.range AS BIGINT) AS col,
         {dlit(spec.x0)} + (c.range + 0.5) * {dlit(spec.cellx)} AS xc,
         {dlit(spec.y0)} + (r.range + 0.5) * {dlit(spec.celly)} AS yc
  FROM range({spec.height}) r CROSS JOIN range({spec.width}) c),
hits AS ({' UNION ALL '.join(preds)}),
won AS (SELECT row, col, CAST(MAX(zone_id) AS BIGINT) AS zone_id
        FROM hits GROUP BY 1, 2)
SELECT row, col, zone_id, CASE zone_id {burns} END AS value FROM won"""


# --------------------------------------------------------------------------
# media_near_dup: one mixed-format lake through the phash dedup stack
# --------------------------------------------------------------------------

_MEDIA_ND_FMTS = ("png", "gif", "bmp", "tif", "apng")


def q_media_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE codec matrix into the image dedup stack (closes the
    r5 gap where only GIF/MJPEG frames reached phash near-dup): 4
    content groups × 5 LOSSLESS container formats — PNG gray8, GIF
    16-gray palette, BMP RLE8 palette, TIFF int16, APNG RGBA frame —
    each encoded with its real encoder and decoded back through its
    real decoder executor-side, then one 64-bit phash per item and
    banded-LSH pair blocking (pigeonhole-exact, never item×item).
    Because every format is lossless the 5 renditions of a group have
    IDENTICAL gray planes, so ground truth is structural: exactly the
    C(5,2)=10 within-group pairs per group at hamming 0, 40 pairs
    total, and no cross-group pair within hamming 3."""
    import pandas as pd

    from .operators import dedup as DD
    from .sources import bmp as BMP
    from .sources import codec as CD
    from .sources import geotiff as GT
    from .sources import gif as G
    from .sources import png as P

    nf = len(_MEDIA_ND_FMTS)

    def gen(batches):
        import numpy as np

        pal = np.stack([np.arange(16) * 17] * 3, axis=1).astype(np.uint8)
        for pdf in batches:
            rows = []
            for mid_ in pdf["id"].tolist():
                mid = int(mid_)
                g, fi = mid // nf, mid % nf
                fmt = _MEDIA_ND_FMTS[fi]
                h, w = 32, 48
                r = np.arange(h)[:, None]
                c = np.arange(w)[None, :]
                # grossly different per-group content, quantized to the
                # 16-gray palette so every lossless format carries the
                # identical gray plane
                k = ((128 + 90 * np.sin(r / (3.0 + g) + g * 0.7)
                      * np.cos(c / (4.0 + 2 * g))).astype(np.uint8) >> 4)
                if fmt == "png":
                    gray = P.decode(P.encode((k * 17).astype(np.uint8)))
                elif fmt == "gif":
                    canvas = G.decode_frames(G.encode([k], pal))[0]
                    gray = canvas[..., 0]
                elif fmt == "bmp":
                    idx, meta = BMP.decode(BMP.encode(k.astype(np.uint8),
                                                      pal, rle=True))
                    gray = meta["palette"][idx][..., 0]
                elif fmt == "tif":
                    gray, _ = GT.parse_tiff(
                        GT.write_tiff((k * 17).astype(np.int16)))
                else:  # apng: single RGBA frame, gray replicated
                    rgba = np.dstack([k * 17, k * 17, k * 17,
                                      np.full_like(k, 255)]).astype(np.uint8)
                    frames, _ = P.decode_apng(P.encode_apng([rgba]))
                    gray = frames[0][..., 0]
                ph = CD.average_hash(np.asarray(gray, np.float64), -1.0)
                rows.append({"image_id": mid, "phash": ph})
            yield pd.DataFrame(rows, columns=["image_id", "phash"])

    items = spark.range(4 * nf).repartition(4).mapInPandas(
        gen, schema="image_id long, phash long")
    pairs = DD.phash_near_dup_pairs(items, max_hamming=3)
    return pairs.select(
        F.col("img_a").alias("media_a"), F.col("img_b").alias("media_b"),
        F.element_at(F.lit(list(_MEDIA_ND_FMTS)),
                     (F.col("img_a") % nf + 1).cast("int")).alias("fmt_a"),
        F.element_at(F.lit(list(_MEDIA_ND_FMTS)),
                     (F.col("img_b") % nf + 1).cast("int")).alias("fmt_b"),
        F.col("hamming").cast("long").alias("hamming"))


def sql_media_near_dup() -> str:
    """Structural ground truth (DuckDB decodes none of the formats —
    same contract as video_near_dup/gif_near_dup): every within-group
    format pair at hamming 0."""
    nf = len(_MEDIA_ND_FMTS)
    fmts = ", ".join(f"'{f}'" for f in _MEDIA_ND_FMTS)
    return f"""WITH fmt(i, name) AS (SELECT range, ([{fmts}])[range + 1]
                      FROM range({nf}))
SELECT CAST(g.range * {nf} + a.i AS BIGINT) AS media_a,
       CAST(g.range * {nf} + b.i AS BIGINT) AS media_b,
       a.name AS fmt_a, b.name AS fmt_b,
       CAST(0 AS BIGINT) AS hamming
FROM range(4) g CROSS JOIN fmt a CROSS JOIN fmt b
WHERE a.i < b.i"""


# ---------------------------------------------------------------------------
# q: xyz_pyramid — gdal2tiles role: Web-Mercator z/x/y tile pyramid
# (base-level warp + PNG tile sink + 2x2-average overview level)
# ---------------------------------------------------------------------------

_XYZ = {"zoom": 2, "tile_px": 256}


def q_xyz_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal2tiles analog over the images table (operators/xyz.py): warp
    the WGS84 grid onto the global Web-Mercator zoom-2 lattice via the
    tile-cogroup gather, assemble 16 z/x/y 256px PNG tiles, then build
    zoom 1 by 2x2 valid-aware averaging of the encoded level below —
    and prove the whole chain by DECODING every emitted tile and
    checksumming its pixels (position-weighted), n_valid cross-checked
    against the stored column.  The reference publishes rasters through
    exactly this pipeline (gdal2tiles.py); DuckDB recomputes both
    levels arithmetically from the synthetic field formulas."""
    from .operators import xyz as XYZ

    spec = SPEC
    p = _XYZ
    tiles = XYZ.xyz_pyramid(
        images_for(spark, spec),
        (spec.x0, spec.y0), (spec.cellx, spec.celly),
        base_zoom=p["zoom"], min_zoom=p["zoom"] - 1, tile_px=p["tile_px"],
        ndv=spec.ndv, tile_shape=(spec.tile, spec.tile),
    )
    return _xyz_checksums(tiles, p["tile_px"], spec.ndv)


def _xyz_checksums(tiles: DataFrame, t: int, ndv: float) -> DataFrame:
    """Decode every emitted z/x/y PNG tile, cross-check the stored
    n_valid, and position-weight checksum its pixels (shared by the
    pyramid and incremental gates)."""
    import pandas as pd

    from .sources import codec

    indv = int(ndv)

    def kernel(batches):
        import numpy as np

        pos = np.arange(t * t, dtype=np.int64).reshape(t, t)
        wgt = 1 + pos % 97
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                a = codec.decode_tile(bytes(r.bytes), "png", t, t, ndv)
                v = a.astype(np.int64)
                ok = v != indv
                nv = int(ok.sum())
                if nv != int(r.n_valid):
                    raise ValueError(
                        f"xyz tile z{r.z}/{r.x}/{r.y}: stored n_valid "
                        f"{r.n_valid} != decoded {nv}")
                rows.append({
                    "z": int(r.z), "x": int(r.x), "y": int(r.y),
                    "n_valid": nv,
                    "checksum": int((v[ok] * wgt[ok]).sum()) if nv else 0,
                })
            yield pd.DataFrame(
                rows, columns=["z", "x", "y", "n_valid", "checksum"])

    return tiles.mapInPandas(
        kernel, schema="z long, x long, y long, n_valid long, checksum long")


def sql_xyz_pyramid() -> str:
    from .operators import xyz as XYZ

    spec = SPEC
    return XYZ.xyz_checksum_sql(
        synth.pixel_sql(spec),
        (spec.x0, spec.y0), (spec.cellx, spec.celly),
        zoom=_XYZ["zoom"], tile_px=_XYZ["tile_px"],
    )


# ---------------------------------------------------------------------------
# q: xyz_incremental — CDC re-tiling: xyz_update over changed source
# tiles must equal a from-scratch pyramid at the new state
# ---------------------------------------------------------------------------

def _xyz_changed(tr, tc):
    return (tr * 3 + tc) % 7 == 0


def q_xyz_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental pyramid maintenance end to end: build the v1
    pyramid, mutate 7 of the 45 source tiles (seed 42 -> 77), run
    xyz_update over the CDC change list — rebuilding ONLY the affected
    z/x/y tiles and anti-join-merging them over the prior snapshot —
    then decode + checksum every tile of the result.  The DuckDB
    oracle recomputes the FULL pyramid from the v2 per-tile-seed field,
    so any stale, missed or mis-merged tile hash-fails."""
    from .operators import xyz as XYZ

    spec = SPEC
    p = _XYZ
    t = spec.tile
    v1 = images_for(spark, spec)
    changed = [(tr, tc) for tr in range(spec.tiles_y)
               for tc in range(spec.tiles_x) if _xyz_changed(tr, tc)]
    spec77 = GridSpec(seed=77)
    v2 = synth.build_images(spark, spec77).filter(
        ((F.col("tile_row") * 3 + F.col("tile_col")) % 7) == 0
    ).unionByName(v1.filter(((F.col("tile_row") * 3 + F.col("tile_col")) % 7) != 0))
    prior = XYZ.xyz_pyramid(
        v1, (spec.x0, spec.y0), (spec.cellx, spec.celly),
        base_zoom=p["zoom"], min_zoom=p["zoom"] - 1, tile_px=p["tile_px"],
        ndv=spec.ndv, tile_shape=(t, t),
    )
    out = XYZ.xyz_update(
        v2, (spec.x0, spec.y0), (spec.cellx, spec.celly), changed, prior,
        base_zoom=p["zoom"], min_zoom=p["zoom"] - 1, src_tile=t,
        tile_px=p["tile_px"], ndv=spec.ndv, tile_shape=(t, t),
    )
    return _xyz_checksums(out, p["tile_px"], spec.ndv)


def sql_xyz_incremental() -> str:
    from .operators import xyz as XYZ

    spec = SPEC
    t = spec.tile
    px_cte = f"""cells AS (
  SELECT CAST(r.range AS BIGINT) AS row, CAST(c.range AS BIGINT) AS col,
         CASE WHEN ((r.range // {t}) * 3 + (c.range // {t})) % 7 = 0
              THEN 77 ELSE {spec.seed} END AS seed
  FROM range({spec.height}) r CROSS JOIN range({spec.width}) c),
px AS (
  SELECT row, col,
         CAST((row * 7919 + col * 104729 + seed) % 1997 AS BIGINT) AS value
  FROM cells WHERE NOT ((row * 31 + col * 17 + seed * 7) % 97 < 24))"""
    return XYZ.xyz_checksum_sql(
        px_cte, (spec.x0, spec.y0), (spec.cellx, spec.celly),
        zoom=_XYZ["zoom"], tile_px=_XYZ["tile_px"],
    )


# ---------------------------------------------------------------------------
# q: pansharpen — gdal_pansharpen role (weighted Brovey, operators/
# pansharpen.py): bilinear MS upsample + pseudo-pan ratio, zero UDFs
# ---------------------------------------------------------------------------

_PS = {"win": (128, 256), "ms_shape": (135, 270), "ratio": 2,
       "n_bands": 3, "seed0": 142}


def q_pansharpen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-Brovey pansharpening: the t1 grid (REAL decode path) is
    the pan band, three synthetic ratio-2-coarser MS bands upsample
    bilinearly (dyadic corner weights — exact in float64) and fuse as
    ms_up·pan/pseudo_pan with weights (1/4, 3/8, 3/8).  DuckDB mirrors
    the corner clamp, weights and the single double divide term for
    term."""
    from .operators import pansharpen as PS

    p = _PS
    wh, ww = p["win"]
    mh, mw = p["ms_shape"]
    pan = _px(spark, SPEC).filter(
        (F.col("row") < wh) & (F.col("col") < ww)
    ).select("row", "col", F.col("value").cast("double").alias("value"))
    ms = (
        spark.range(p["n_bands"]).select(F.col("id").alias("band"))
        .crossJoin(spark.range(mh).select(F.col("id").alias("row")))
        .crossJoin(spark.range(mw).select(F.col("id").alias("col")))
        .select("band", "row", "col",
                ((F.col("row") * 7919 + F.col("col") * 104729
                  + (F.lit(p["seed0"]) + F.col("band"))) % 1997
                 ).cast("double").alias("value"))
    )
    return PS.brovey_pansharpen(pan, ms, (mh, mw), p["ratio"], p["n_bands"])


def sql_pansharpen() -> str:
    from .operators import pansharpen as PS

    p = _PS
    wh, ww = p["win"]
    pan_cte = (
        f"WITH {synth.pixel_sql(SPEC)},\n"
        f"pan AS (SELECT row, col, CAST(value AS DOUBLE) AS value\n"
        f"        FROM px WHERE row < {wh} AND col < {ww})"
    )
    return PS.brovey_sql(
        pan_cte,
        f"(r.range * 7919 + c.range * 104729 + ({p['seed0']} + b.range)) % 1997",
        p["ms_shape"], p["ratio"], p["n_bands"],
    )


# ---------------------------------------------------------------------------
# q: warp_cutline — gdalwarp -cutline role (reproject.warp_cutline)
# ---------------------------------------------------------------------------

def _cutline_zones():
    # convex + concave L + donut-with-hole: the even-odd kernel and its
    # SQL mirror both see every ring class
    return [synth.ZONES_T1[0], synth.ZONES_EXTRA[0], synth.ZONES_EXTRA[1]]


def q_warp_cutline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp -cutline: CEA warp of the t1 grid with three cutlines
    (convex rect, concave L, donut WITH hole) applied to the target
    cell centers via the shared even-odd kernel — cells outside every
    cutline never leave the plan.  DuckDB replays the lattice, the
    inverse lon/lat and the crossing-number predicates."""
    from .operators import reproject as RP

    spec = SPEC
    return RP.warp_cutline(
        None, (spec.x0, spec.y0), (spec.cellx, spec.celly),
        (spec.height, spec.width), (180, 360), _cutline_zones(),
        images=images_for(spark, spec),
    ).select("trow", "tcol", "zone_id", "xm", "ym",
             F.col("value").cast("long").alias("value"))


def sql_warp_cutline() -> str:
    from .operators import reproject as RP

    spec = SPEC
    return RP.warp_cutline_sql(
        synth.pixel_sql(spec), (spec.x0, spec.y0),
        (spec.cellx, spec.celly), (spec.height, spec.width), (180, 360),
        _cutline_zones(),
    )


# ---------------------------------------------------------------------------
# q: linear_rescale — gdal_translate -scale role (algebra.linear_rescale)
# ---------------------------------------------------------------------------

def q_linear_rescale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_translate -scale over the REAL decoded t1 grid: affine map
    of the data-derived [min, max] onto [0, 255] with floor(x+0.5)
    rounding.  The bounds row broadcasts onto the scan — pixels never
    shuffle."""
    from .operators import algebra as ALG

    px = _px(spark, SPEC).select("row", "col",
                                 F.col("value").cast("long").alias("value"))
    return ALG.linear_rescale(px).select("row", "col", "value")


def sql_linear_rescale() -> str:
    from .operators import algebra as ALG

    return ALG.linear_rescale_sql(synth.pixel_sql(SPEC))


# ---------------------------------------------------------------------------
# q: viewshed — gdal_viewshed role (operators/viewshed.py)
# ---------------------------------------------------------------------------

_VS = {"observer": (100, 100), "radius": 40, "eye_height": 50}


def q_viewshed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3 line-of-sight viewshed around (100,100) with a 40-cell
    Chebyshev radius and +50 eye height over the REAL decoded t1 grid:
    every slope comparison is denominator-cleared integer math and the
    minor-axis nearest sample is integer floor division, so DuckDB
    replays every ray bit-for-bit (nodata cells never block; nodata
    targets unreported)."""
    from .operators import viewshed as VS

    p = _VS
    px = _px(spark, SPEC).select("row", "col", "value")
    return VS.viewshed(px, p["observer"], p["radius"],
                       eye_height=p["eye_height"])


def sql_viewshed() -> str:
    from .operators import viewshed as VS

    p = _VS
    return VS.viewshed_sql(synth.pixel_sql(SPEC), p["observer"],
                           p["radius"], eye_height=p["eye_height"])


# ---------------------------------------------------------------------------
# q: histogram_eq — gdalenhance -equalize role (algebra.histogram_equalize)
# ---------------------------------------------------------------------------

def q_histogram_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram equalization of the t1 grid (REAL decode path): the
    classic CDF LUT out = floor((cdf−cdf_min)/(N−cdf_min)·255 + 0.5)
    over all 109,725 valid pixels.  The value-count table is bounded by
    the value domain (1997 here), the LUT broadcasts back — pixels
    cross one exchange.  DuckDB re-derives the CDF and LUT from the
    synthetic formulas."""
    from .operators import algebra as ALG

    px = _px(spark, SPEC).select("row", "col",
                                 F.col("value").cast("long").alias("value"))
    out = ALG.histogram_equalize(px, levels=256)
    return out.select("row", "col", F.col("value").cast("long").alias("value"))


def sql_histogram_eq() -> str:
    from .operators import algebra as ALG

    return ALG.histogram_equalize_sql(synth.pixel_sql(SPEC), levels=256)


# ---------------------------------------------------------------------------
# q: grid_points — gdal_grid role (operators/gridding.py): scattered
# points -> raster via bucket-join radius search
# ---------------------------------------------------------------------------

_GRID = {"n_pts": 2000, "out": (45, 90), "radius": 3.0}


def q_grid_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_grid over 2,000 deterministic scattered points: moving-
    window average, nearest (min-d² then min-pid tie-break), min/max
    and count per 4° cell with a 3° search radius.  The engine's
    radius search is the 3x3 bucket join (pair count bounded by local
    density); DuckDB brute-forces lattice x points with identical
    center/distance arithmetic."""
    from .operators import gridding as GR

    p = _GRID
    pts = spark.range(p["n_pts"]).select(
        F.col("id").alias("pid"),
        (F.lit(-180.0) + ((F.col("id") * 7351) % 3600).cast("double") / 10.0)
        .alias("x"),
        (F.lit(90.0) - ((F.col("id") * 4099) % 1800).cast("double") / 10.0)
        .alias("y"),
        ((F.col("id") * 7919 + 13) % 1997).alias("value"),
    )
    th, tw = p["out"]
    return GR.grid_points(
        pts, (-180.0, 90.0), (360.0 / tw, -180.0 / th), (th, tw),
        p["radius"])


def sql_grid_points() -> str:
    from .operators import gridding as GR

    p = _GRID
    th, tw = p["out"]
    pts_cte = (
        f"pts AS (SELECT CAST(range AS BIGINT) AS pid,\n"
        f"  -180.0 + CAST((range * 7351) % 3600 AS DOUBLE) / 10.0 AS x,\n"
        f"  90.0 - CAST((range * 4099) % 1800 AS DOUBLE) / 10.0 AS y,\n"
        f"  CAST((range * 7919 + 13) % 1997 AS BIGINT) AS value\n"
        f"FROM range({p['n_pts']}))"
    )
    return GR.grid_points_sql(
        pts_cte, (-180.0, 90.0), (360.0 / tw, -180.0 / th), (th, tw),
        p["radius"])


QUERIES = {
    # --- round-6 driver-window rotation: the driver gates the FIRST 50
    # entries. Front: gates NEW in round 6 (inserted below as built),
    # then the 46 back-block gates whose last driver rows are from r4
    # (two rounds stale in r6: ann_cosine..mjpeg_frames and
    # pixel_decode..align_grids). The 50 r5-checked gates move to the
    # back (CORRECTNESS_r05 green — within the two-round freshness
    # bar through r7). Gates built in LATER r6 sessions (reproject_tiles
    # .. polygonize_8conn, the middle block) are locally
    # check_oracle-verified and deliberately OUTSIDE the first-50 window
    # so they don't evict the stale-r4 block. ROUND-7 ROTATION: front =
    # new-r7 gates, then the middle block (reproject_tiles ..
    # polygonize_8conn — no driver rows yet), then as much of the
    # r5-checked back block as fits; the r6-fronted 50 move back.
    # --- gates new in round 6 ---
    "shapefile_zonal": (q_shapefile_zonal, sql_shapefile_zonal),
    "resize_cubic_spline": (q_resize_cubic_spline, sql_resize_cubic_spline),
    "media_near_dup": (q_media_near_dup, sql_media_near_dup),
    "reproject_webmerc_cubic": (q_reproject_webmerc_cubic, sql_reproject_webmerc_cubic),
    # --- r4-driver-row gates rotated forward ---
    "ann_cosine": (q_ann_cosine, sql_ann_cosine),
    "quantized_ann": (q_quantized_ann, sql_quantized_ann),
    "ivf_ann": (q_ivf_ann, sql_ivf_ann),
    "embed_near_dup": (q_embed_near_dup, sql_embed_near_dup),
    "tile_cells": (q_tile_cells, sql_tile_cells),
    "zonal_stats": (q_zonal_stats, sql_zonal_stats),
    "global_stats": (q_global_stats, sql_global_stats),
    "gini": (q_gini, sql_gini),
    "map_pixel": (q_map_pixel, sql_map_pixel),
    "block_aggregate": (q_block_aggregate, sql_block_aggregate),
    "union_mosaic": (q_union_mosaic, sql_union_mosaic),
    "algebra": (q_algebra, sql_algebra),
    "band_math": (q_band_math, sql_band_math),
    "ufunc_math": (q_ufunc_math, sql_ufunc_math),
    "extract_window": (q_extract, sql_extract),
    "simhash_dedup": (q_simhash_dedup, sql_simhash_dedup),
    "lsh_ann": (q_lsh_ann, sql_lsh_ann),
    "reproject_datum": (q_reproject_datum, sql_reproject_datum),
    "reproject_osgb": (q_reproject_osgb, sql_reproject_osgb),
    "mp4_samples": (q_mp4_samples, sql_mp4_samples),
    "flac_roundtrip": (q_flac_roundtrip, sql_flac_roundtrip),
    "reproject_merc3395": (q_reproject_merc3395, sql_reproject_merc3395),
    "mjpeg_frames": (q_mjpeg_frames, sql_mjpeg_frames),
    "pixel_decode": (q_pixel_decode, sql_pixel_decode),
    "audio_features": (q_audio_features, sql_audio_features),
    "terrain": (q_terrain, sql_terrain),
    "focal_mean_5x5": (q_focal_mean, sql_focal_mean),
    "d8_flow": (q_d8_flow, sql_d8_flow),
    "flow_accumulation": (q_flow_accumulation, sql_flow_accumulation),
    "contour": (q_contour, sql_contour),
    "proximity": (q_proximity, sql_proximity),
    "overviews": (q_overviews, sql_overviews),
    "geotiff_roundtrip": (q_geotiff_roundtrip, sql_geotiff_roundtrip),
    "jpeg_roundtrip": (q_jpeg_roundtrip, sql_jpeg_roundtrip),
    "knn_tiles": (q_knn, sql_knn),
    "knn_pixels": (q_knn_pixels, sql_knn_pixels),
    "autocorr_global": (q_autocorr_global, sql_autocorr_global),
    "autocorr_rowstd": (q_autocorr_rowstd, sql_autocorr_rowstd),
    "gstar_local": (q_gstar_local, sql_gstar_local),
    "focal_stats": (q_focal_stats, sql_focal_stats),
    "local_moran": (q_local_moran, sql_local_moran),
    "local_geary": (q_local_geary, sql_local_geary),
    "moran_permutations": (q_moran_perm, sql_moran_perm),
    "argmax": (q_argmax, sql_argmax),
    "resize_nearest": (q_resize, sql_resize),
    "align_grids": (q_align, sql_align),
    # reproject_tiles is r6-NEW but sits at position 51 (the driver
    # window is exactly full with the 4 new + 46 stale gates above);
    # locally oracle-checked this round, rotate into the window in r7
    "reproject_tiles": (q_reproject_tiles, sql_reproject),
    "reproject_tiles_bilinear": (q_reproject_tiles_bilinear,
                                 sql_reproject_bilinear),
    # focal_tiles / terrain_tiles are likewise r6-NEW past the full
    # driver window; locally oracle-checked this round, rotate into
    # the window in r7
    "focal_tiles": (q_focal_tiles, sql_focal_tiles),
    "terrain_tiles": (q_terrain_tiles, sql_terrain),
    # g_local / *_perm_rowstd are r6-NEW (session 4: plain G_i for
    # esda's star=False default; row-standardized permutation tests);
    # past the full driver window — rotate into it in r7
    "g_local": (q_g_local, sql_g_local),
    "moran_perm_rowstd": (q_moran_perm_rowstd, sql_moran_perm_rowstd),
    "geary_perm_rowstd": (q_geary_perm_rowstd, sql_geary_perm_rowstd),
    # adpcm_audio is r6-NEW (session 4: IMA ADPCM codec, hash-exact
    # recursive-CTE oracle); past the full driver window — rotate in r7
    "adpcm_audio": (q_adpcm_audio, sql_adpcm_audio),
    # local_moran_rowstd is r6-NEW (session 4: esda-default LISA
    # weights); past the full driver window — rotate in r7
    "local_moran_rowstd": (q_local_moran_rowstd, sql_local_moran_rowstd),
    # qoi_roundtrip is r6-NEW (session 5: QOI codec joins the media
    # lake); past the full driver window — rotate in r7
    "qoi_roundtrip": (q_qoi_roundtrip, sql_qoi_roundtrip),
    # geojson_zonal is r6-NEW (session 5: RFC 7946 vector source/sink,
    # the shapefile driver's twin incl. MultiPolygon); past the full
    # driver window — rotate in r7
    "geojson_zonal": (q_geojson_zonal, sql_geojson_zonal),
    # terrain_tpi / color_relief are r6-NEW (session 5: the remaining
    # gdaldem modes — TPI/TRI/roughness + color-relief); past the full
    # driver window — rotate in r7
    "terrain_tpi": (q_terrain_tpi, sql_terrain_tpi),
    "color_relief": (q_color_relief, sql_color_relief),
    "hillshade_md": (q_hillshade_md, sql_hillshade_md),
    # gamma_joincount_perm is r6-NEW (session 5: the esda-default
    # permutation tests for Gamma + BB join counts); past the full
    # driver window — rotate in r7
    "gamma_joincount_perm": (q_gamma_joincount_perm, sql_gamma_joincount_perm),
    # reproject_quartiles is r6-NEW (session 5: rms/med/q1/q3 complete
    # the gdalwarp -r enum); past the full driver window — rotate in r7
    "reproject_quartiles": (q_reproject_quartiles, sql_reproject_quartiles),
    # sieve is r6-NEW (session 5: the gdal_sieve utility on the
    # distributed-CC machinery); past the full driver window — rotate
    # in r7
    "sieve": (q_sieve, sql_sieve),
    # fillnodata is r6-NEW (session 5: the gdal_fillnodata role via the
    # EDT feature transform); past the full driver window — rotate in r7
    "fillnodata": (q_fillnodata, sql_fillnodata),
    # rasterize is r6-NEW (session 5: the gdal_rasterize role on the
    # shared PIP kernel); past the full driver window — rotate in r7
    "rasterize": (q_rasterize, sql_rasterize),
    # incremental_dedup is r6-NEW (session 5: CDC-shape near-dup — new
    # batch probes the persisted band index); past the full driver
    # window — rotate in r7
    "incremental_dedup": (q_incremental_dedup, sql_incremental_dedup),
    # pq_ann is r6-NEW (session 5: product-quantization ADC search —
    # the 4th embedding index next to brute/LSH/IVF/SQ8); past the
    # full driver window — rotate in r7
    "pq_ann": (q_pq_ann, sql_pq_ann),
    "xyz_pyramid": (q_xyz_pyramid, sql_xyz_pyramid),
    "pansharpen": (q_pansharpen, sql_pansharpen),
    "histogram_eq": (q_histogram_eq, sql_histogram_eq),
    "grid_points": (q_grid_points, sql_grid_points),
    "xyz_incremental": (q_xyz_incremental, sql_xyz_incremental),
    "viewshed": (q_viewshed, sql_viewshed),
    "linear_rescale": (q_linear_rescale, sql_linear_rescale),
    "substring_dedup": (q_substring_dedup, sql_substring_dedup),
    "warp_cutline": (q_warp_cutline, sql_warp_cutline),
    "polygonize_8conn": (q_polygonize_8conn, sql_polygonize_8conn),
    # --- round-5-checked gates (CORRECTNESS_r05 green, freshest) ---
    "map_vector": (q_map_vector, sql_map_vector),
    "cost_distance": (q_cost_distance, sql_cost_distance),
    "cost_distance_window": (q_cost_distance_window, sql_cost_distance_window),
    "polygonize": (q_polygonize, sql_polygonize),
    "polygonize_window": (q_polygonize_window, sql_polygonize_window),
    "polygonize_geoms": (q_polygonize_geoms, sql_polygonize_geoms),
    "squares": (q_squares, sql_squares),
    "clip_zones": (q_clip, sql_clip),
    "reproject_cea": (q_reproject, sql_reproject),
    "reproject_webmerc": (q_reproject_webmerc, sql_reproject_webmerc),
    "reproject_bilinear": (q_reproject_bilinear, sql_reproject_bilinear),
    "reproject_utm": (q_reproject_utm, sql_reproject_utm),
    "reproject_sinu": (q_reproject_sinu, sql_reproject_sinu),
    "reproject_albers": (q_reproject_albers, sql_reproject_albers),
    "reproject_lcc": (q_reproject_lcc, sql_reproject_lcc),
    "reproject_from_cea": (q_reproject_from_cea, sql_reproject_from_cea),
    "psnr_gate_q8": (q_psnr_gate, sql_psnr_gate),
    "phash_near_dup": (q_phash_near_dup, sql_phash_near_dup),
    "dedup_exact": (q_dedup_exact, sql_dedup_exact),
    "jaccard_pairs": (q_jaccard_pairs, sql_jaccard_pairs),
    "minhash_dedup": (q_minhash_dedup, sql_minhash_dedup),
    # dedup_clusters is r6-NEW (not r5-checked, despite sitting in this
    # block): like reproject_tiles it arrived after the 50-gate driver
    # window was full; locally oracle-checked this round — rotate it
    # into the window FIRST in r7 alongside the other r6-new gates
    "dedup_clusters": (q_dedup_clusters, sql_dedup_clusters),
    "train_split": (q_train_split, sql_train_split),
    "stratified_sample": (q_stratified_sample, sql_stratified_sample),
    "text_stats": (q_text_stats, sql_text_stats),
    "text_quality": (q_text_quality, sql_text_quality),
    "event_rollup": (q_event_rollup, sql_event_rollup),
    "event_attribution": (q_event_attribution, sql_event_attribution),
    "reproject_utm_cubic": (q_reproject_utm_cubic, sql_reproject_utm_cubic),
    "reproject_lcc_lanczos": (q_reproject_lcc_lanczos, sql_reproject_lcc_lanczos),
    "reproject_any_average": (q_reproject_any_average, sql_reproject_any_average),
    "local_moran_perm": (q_local_moran_perm, sql_local_moran_perm),
    "gstar_local_perm": (q_gstar_local_perm, sql_gstar_local_perm),
    "resize_bilinear": (q_resize_bilinear, sql_resize_bilinear),
    "resize_cubic": (q_resize_cubic, sql_resize_cubic),
    "video_near_dup": (q_video_near_dup, sql_video_near_dup),
    "geary_permutations": (q_geary_perm, sql_geary_perm),
    "png_roundtrip": (q_png_roundtrip, sql_png_roundtrip),
    "gif_frames": (q_gif_frames, sql_gif_frames),
    "tiff_jpeg": (q_tiff_jpeg, sql_tiff_jpeg),
    "g711_audio": (q_g711_audio, sql_g711_audio),
    "tiff_multiband": (q_tiff_multiband, sql_tiff_multiband),
    "gif_near_dup": (q_gif_near_dup, sql_gif_near_dup),
    "media_ingest": (q_media_ingest, sql_media_ingest),
    "apng_frames": (q_apng_frames, sql_apng_frames),
    "media_features": (q_media_features, sql_media_features),
    "bmp_roundtrip": (q_bmp_roundtrip, sql_bmp_roundtrip),
    "zonal_rank": (q_zonal_rank, sql_zonal_rank),
    "sessionize": (q_sessionize, sql_sessionize),
    "asof_join": (q_asof_join, sql_asof_join),
    "tile_entropy": (q_tile_entropy, sql_tile_entropy),
}

