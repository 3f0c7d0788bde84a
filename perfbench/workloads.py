"""The three workloads.  Each is a closed loop with one client: the next
operation starts when the previous one has returned.

A workload prepares its inputs and oracle without Spark (``prepare``),
stages its Spark-made inputs (``stage``, untimed), builds what its
operations read (``build``, timed as set-up), warms up (``warm``, timed
as set-up), then runs operations (``op``, timed) whose results
``check`` compares against the oracle outside the timed window.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from georasters_spark.operators import knn as KN
from georasters_spark.operators import pixels as PX
from georasters_spark.operators import spatial_join as SJ
from georasters_spark.sources import catalog as CAT
from georasters_spark.sources import synth

from . import env, fixtures, oracle, trace


class Workload:
    name = ""
    pixels_per_op = 0.0  # the work one operation does, for px_per_s

    def __init__(self, seed: int, scale: str, work: str):
        self.seed, self.scale, self.work = seed, scale, work
        self.cat_spec, self.ing_spec = fixtures.grids(seed, scale)
        self.layout = fixtures.LAYOUT[scale]
        self.parts = env.cores()
        self.writes: list[tuple[float, int]] = []  # write_clustered (s, bytes)
        os.makedirs(work)

    @property
    def spec(self):
        """The grid this workload's catalog holds."""
        return self.cat_spec

    @property
    def raw_bytes(self) -> int:
        """Raw int16 payload of every tile of ``spec``."""
        return self.spec.n_tiles * self.spec.tile * self.spec.tile * 2

    def _write_catalog(self, df, root, tr) -> None:
        """write_clustered with the shared layout; records its wall time
        and the bytes it wrote."""
        t0 = time.perf_counter()
        with tr.span("catalog.write_clustered"):
            CAT.write_clustered(df, root, res=self.spec.cell_res, **self.layout)
        self.writes.append((time.perf_counter() - t0, oracle.bytes_under(root)))

    def stage(self, spark) -> None:
        """Untimed input staging that needs Spark."""

    def after(self, i: int, result) -> None:
        """Untimed clean-up once operation i has been checked."""

    def files_read_ratio(self) -> float:
        """Data files a traced bbox scan opened / files in the catalog."""
        return 0.0

    def ring_cells_per_point(self) -> float:
        """kNN candidate cells per query point in traced requests."""
        return 0.0


class _CatalogReader(Workload):
    """Shared set-up of the two read workloads: the tile fixture staged
    as parquet by the engine's own builder, and a clustered catalog
    built from it per set-up build; operations read the last one."""

    def prepare(self) -> None:
        self.fixture = os.path.join(self.work, "fixture")

    def stage(self, spark) -> None:
        synth.build_images(spark, self.cat_spec).write.parquet(self.fixture)

    def build(self, spark, rep: int, tr) -> None:
        self.root = os.path.join(self.work, f"catalog-{rep}")
        self._write_catalog(spark.read.parquet(self.fixture), self.root, tr)


class ZonalScan(_CatalogReader):
    """Whole-catalog scan from parquet, no cache: fused all-touched zonal
    statistics over the six fixture zones."""

    name = "zonal_scan"

    def prepare(self) -> None:
        super().prepare()
        self.expected = oracle.zonal_expected(self.cat_spec, fixtures.ZONES)
        self.pixels_per_op = float(self.cat_spec.width * self.cat_spec.height)

    def warm(self, spark, tr) -> None:
        self.op(spark, -1, tr)

    def op(self, spark, i: int, tr):
        s = self.cat_spec
        with tr.span("spatial_join.zonal_stats_fused"):
            return SJ.zonal_stats_fused(
                spark.read.parquet(self.root), fixtures.ZONES,
                origin=(s.x0, s.y0), cellsize=(s.cellx, s.celly),
                mode="all_touched").collect()

    def check(self, i: int, rows) -> bool:
        return oracle.check_zonal(rows, self.expected)

    @staticmethod
    def corrupt(rows):
        bad = [r.asDict() for r in rows]
        bad[0]["zsum"] += 1
        return bad


class PointQueries(_CatalogReader):
    """Seeded interactive requests: scan_bbox with manifest pruning, a
    few hundred point lookups in the bbox, kNN (k=5) for a few points."""

    name = "point_queries"

    def prepare(self) -> None:
        super().prepare()
        self.requests = fixtures.requests(self.cat_spec, self.seed, self.scale)
        self.warm_requests = fixtures.requests(self.cat_spec, self.seed, self.scale, stream=1)
        self.centers = oracle.TileCenters(self.cat_spec)
        self.pixels_per_op = float(fixtures.N_LOOKUP[self.scale])
        self.pending: dict[int, tuple] = {}
        self.files_read: list[float] = []
        self.ring_cells: list[float] = []

    def warm(self, spark, tr) -> None:
        self._request(spark, next(self.warm_requests), tr)

    def op(self, spark, i: int, tr):
        req = next(self.requests)
        self.pending[i] = req
        return self._request(spark, req, tr)

    def _request(self, spark, req: fixtures.Request, tr):
        s = self.cat_spec
        kw = {"origin": (s.x0, s.y0), "cellsize": (s.cellx, s.celly)}
        with tr.span("catalog.scan_bbox"):
            sub = CAT.scan_bbox(spark, self.root, req.bbox, res=s.cell_res,
                                prefix_res=self.layout["prefix_res"])
        if tr.active:
            self.files_read.append(len(sub.inputFiles()))
        pts = spark.createDataFrame(
            list(zip(range(len(req.xs)), req.xs.tolist(), req.ys.tolist())),
            "point_id long, x double, y double")
        with tr.span("pixels.lookup_points_fused"):
            looked = PX.lookup_points_fused(sub, pts, tile=s.tile, **kw).collect()
        kpts = spark.createDataFrame(
            list(zip(range(len(req.knn_xs)), req.knn_xs.tolist(), req.knn_ys.tolist())),
            "point_id long, x double, y double")
        if tr.active:
            sql = trace.SQLStore(spark)
            sql.mark()
        with tr.span("knn.knn_tiles"):
            near = KN.knn_tiles(spark.read.parquet(self.root), kpts, res=s.cell_res,
                                k=fixtures.KNN_K, count_res=s.cell_res).collect()
        if tr.active:
            # knn_tiles' one Python map stage is its ring expansion, which
            # emits one row per (query point, occupied ring cell)
            self.ring_cells.append(sql.output_rows("MapInPandas") / len(req.knn_xs))
        return looked, near

    def check(self, i: int, result) -> bool:
        looked, near = result
        req = self.pending.pop(i)
        want = oracle.lookup_expected(self.cat_spec, req.rows, req.cols)
        return (oracle.check_lookup(looked, want)
                and self.centers.check(near, req.knn_xs, req.knn_ys, fixtures.KNN_K))

    @staticmethod
    def corrupt(result):
        looked, near = result
        bad = [r.asDict() for r in looked]
        hit = next(r for r in bad if r["value"] is not None)
        hit["value"] += 1
        return bad, near

    def files_read_ratio(self) -> float:
        total = sum(1 for _, _, fs in os.walk(self.root) for f in fs if f.endswith(".parquet"))
        return float(np.mean(self.files_read)) / total if self.files_read else 0.0

    def ring_cells_per_point(self) -> float:
        return float(np.mean(self.ring_cells)) if self.ring_cells else 0.0


class IngestCommit(Workload):
    """Tile a pixel table with assemble_tiles and commit it with
    write_clustered into a fresh directory, in the catalog's layout."""

    name = "ingest_commit"

    @property
    def spec(self):
        return self.ing_spec

    def prepare(self) -> None:
        s = self.ing_spec
        self.pixels = os.path.join(self.work, "pixels")
        self.pixels_per_op = float(fixtures.write_pixels(s, self.pixels, self.parts))
        self.expected = oracle.IngestOracle(s)

    def build(self, spark, rep: int, tr) -> None:
        """Nothing to build: each operation writes its own commit."""

    def warm(self, spark, tr) -> None:
        self.after(-1, self.op(spark, -1, tr))

    def op(self, spark, i: int, tr):
        s = self.ing_spec
        dest = os.path.join(self.work, f"commit-{i}")
        with tr.span("pixels.assemble_tiles"):
            tiles = PX.assemble_tiles(
                spark.read.parquet(self.pixels), s.grid_id, (s.x0, s.y0),
                (s.cellx, s.celly), tile=s.tile, ndv=s.ndv, fmt="raw16",
                dtype=s.dtype, crs=s.crs, cell_res=s.cell_res)
        self._write_catalog(tiles, dest, tr)
        return dest

    def check(self, i: int, dest: str) -> bool:
        return self.expected.check(dest)

    def after(self, i: int, dest) -> None:
        shutil.rmtree(dest, ignore_errors=True)

    @staticmethod
    def corrupt(dest: str) -> str:
        """Lose one data file of the commit."""
        lost = next(os.path.join(d, f) for d, _, fs in sorted(os.walk(dest))
                    for f in sorted(fs) if f.endswith(".parquet"))
        os.remove(lost)
        return dest


WORKLOADS = {w.name: w for w in (ZonalScan, PointQueries, IngestCommit)}
