"""georasters_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-realizes the operator semantics of the reference raster-algebra library
(ozak/georasters, see SURVEY.md for the file:line inventory) as DataFrame
operators over an Iceberg-style table of georeferenced image+caption tiles:

    (image_id string, bytes binary, w int, h int, fmt string,
     caption string, phash long,
     tile_row int, tile_col int, xmin double, ymax double,
     cellx double, celly double, crs string, ndv double,
     dtype string, cell_id long)

Design rules (BASELINE.json north_rule):
  * DataFrame/SQL-first; every custom kernel is an Arrow-vectorized
    pandas UDF / mapInPandas / applyInPandas — no per-row Python.
  * hierarchical spatial cell index (Morton/quadkey, H3/S2 role) built
    from scratch in numpy; kNN = ring expansion over it.
  * point-in-polygon + zonal stats = broadcast zones, one fused
    decode+PIP stage with per-task partials (no salted shuffles).
  * checkpoint/resume via per-partition lineage + metrics manifests
    (Iceberg-lite: parquet + JSON snapshots — no Iceberg jar in-sandbox).
"""

__version__ = "0.1.0"


def __getattr__(name):
    # lazy: importing the package must not start a SparkSession or pull
    # pyspark submodules eagerly
    if name == "GeoRasterFrame":
        from .frame import GeoRasterFrame

        return GeoRasterFrame
    raise AttributeError(name)
