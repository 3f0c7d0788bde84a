"""Cost-distance / least-cost travel time (georasters.py:1396-1486).

The reference builds skimage.graph.MCP_Geometric over the raster as a
cost surface and loops over sources in Python (its scalability cliff,
SURVEY §3.3). Here one numpy/heapq Dijkstra (``_dijkstra_seeded``;
``dijkstra_grid`` is its single-seed call) runs inside Spark tasks.

Semantics matched to the reference:
  * MCP_Geometric edge cost: (cost[a] + cost[b]) / 2 * step_len,
    step_len = 1 (rook) or sqrt(2) (diagonal), in cell units.
  * cumulative costs divided by 7*24 (hours -> weeks)
    (georasters.py:1432, :1439-1441).
  * unreachable destinations (inf) are dropped (georasters.py:1437).
  * isolation = mean cumulative cost over all *reachable valid* cells
    / (7*24) (georasters.py:1438-1442).
  * masked cells are impassable (cost surface has no value there).

Two plans run that Dijkstra, both pytest-proven bit-equal to
``dijkstra_grid``, and both route over the same clipped surface and
point cells (``_routing_inputs``):

* ``block_sssp``       — THE scale path and the gated plan: the grid is
  partitioned into B×B blocks (+1-cell halo); each round runs a full
  local multi-seed Dijkstra per dirty block in an Arrow task and
  exchanges only improved halo/boundary estimates. The surface never
  leaves the executors, state is (src, row, col, dist) rows, and the
  round count is bounded by the number of block-boundary crossings of
  the optimal paths (label-correcting block Dijkstra), not the grid
  diameter.
* ``cost_distance_broadcast``  — the small-grid fast path: collect the
  surface once, broadcast, per-source Dijkstra in executors. Driver
  memory-bound; kept for routes=True tracebacks and tiny grids.
"""

from __future__ import annotations

import heapq
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HOURS_PER_WEEK = 7 * 24


# the MCP_Geometric 8-neighbour steps (dr, dc, step length)
_STEPS = tuple((dr, dc, math.sqrt(2) if dr and dc else 1.0)
               for dr in (-1, 0, 1) for dc in (-1, 0, 1) if (dr, dc) != (0, 0))


def _dijkstra_seeded(
    cost: np.ndarray, valid: np.ndarray, seeds: list[tuple[int, int, float]]
) -> np.ndarray:
    """Multi-seed Dijkstra over a local window (MCP_Geometric edge
    rule). seeds: (r, c, dist0) already in window coordinates. Returns
    float64 grid, inf = unreachable."""
    h, w = cost.shape
    dist = np.full((h, w), np.inf)
    pq = []
    for r, c, d in seeds:
        if 0 <= r < h and 0 <= c < w and valid[r, c] and d < dist[r, c]:
            dist[r, c] = d
            heapq.heappush(pq, (d, r, c))
    while pq:
        d, r, c = heapq.heappop(pq)
        if d > dist[r, c]:
            continue
        base = cost[r, c]
        for dr, dc, sl in _STEPS:
            nr, nc = r + dr, c + dc
            if 0 <= nr < h and 0 <= nc < w and valid[nr, nc]:
                nd = d + (base + cost[nr, nc]) / 2.0 * sl
                if nd < dist[nr, nc]:
                    dist[nr, nc] = nd
                    heapq.heappush(pq, (nd, nr, nc))
    return dist


def dijkstra_grid(cost: np.ndarray, valid: np.ndarray, r0: int, c0: int) -> np.ndarray:
    """Full cumulative-cost surface from one source (MCP_Geometric edge
    rule). Returns float64 grid, inf = unreachable or invalid."""
    return _dijkstra_seeded(cost, valid, [(r0, c0, 0.0)])


def _halo_offsets(spark, b: int, include_center: bool):
    """(offsets df, membership predicate): a cell at (row, col) belongs
    to block (home + da, home + db) iff it sits on the corresponding
    border of its home block — shared by the halo replication and the
    dirty-block derivation (which additionally includes (0, 0))."""
    offsets = spark.createDataFrame(
        [(da, db) for da in (-1, 0, 1) for db in (-1, 0, 1)
         if include_center or (da, db) != (0, 0)],
        "da int, db int",
    )
    pred = (
        ((F.col("da") == -1) & (F.pmod(F.col("row"), b) == 0))
        | (F.col("da") == 0)
        | ((F.col("da") == 1) & (F.pmod(F.col("row"), b) == b - 1))
    ) & (
        ((F.col("db") == -1) & (F.pmod(F.col("col"), b) == 0))
        | (F.col("db") == 0)
        | ((F.col("db") == 1) & (F.pmod(F.col("col"), b) == b - 1))
    )
    return offsets, pred


def block_sssp(
    px: DataFrame,
    sources_rc: list[tuple[int, int, int]],
    block: int = 160,
    max_rounds: int = 10000,
) -> DataFrame:
    """Distributed multi-source SSSP over block-partitioned cost grid.

    px: (row, col, value) valid cells. sources_rc: (src_id, row, col).
    Returns (src, row, col, dist) in raw cost units for every cell
    reachable from each source — bit-identical to per-source
    dijkstra_grid (min-plus path sums are order-deterministic).

    Plan shape per round: [dirty-block filter] → one grouped-map Arrow
    stage (local Dijkstra per block, seeded from current estimates) →
    min-merge of improvements into the state. The full surface is never
    collected or broadcast; per-task memory is one (block+2)² window.
    """
    spark = px.sparkSession
    b = int(block)

    base = px.select(
        "row", "col", F.col("value").cast("double").alias("value"),
        (F.col("row") - F.pmod(F.col("row"), b)).alias("_hr"),  # home block origin
        (F.col("col") - F.pmod(F.col("col"), b)).alias("_hc"),
    ).select(
        "row", "col", "value",
        (F.col("_hr") / b).cast("long").alias("trow"),
        (F.col("_hc") / b).cast("long").alias("tcol"),
    )
    # halo replication: border pixels also belong to adjacent blocks so
    # each block task sees a 1-cell ring of out-of-block costs
    offsets, on_edge = _halo_offsets(spark, b, include_center=False)
    halo = (
        base.crossJoin(F.broadcast(offsets))
        .filter(on_edge)
        .select(
            "row", "col", "value",
            (F.col("trow") + F.col("da")).alias("trow"),
            (F.col("tcol") + F.col("db")).alias("tcol"),
        )
    )
    tiled = base.select("row", "col", "value", "trow", "tcol").unionByName(halo)
    tiled = tiled.repartition("trow", "tcol").persist()
    tiled.count()

    dist = spark.createDataFrame(
        [(int(s), int(r), int(c), 0.0) for s, r, c in sources_rc],
        "src long, row long, col long, dist double",
    ).join(px.select("row", "col"), ["row", "col"], "left_semi").persist()
    seed = dist  # released at the end (reassigned below)
    frontier = dist

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ty, tx = int(key[0]), int(key[1])
        r0, c0 = ty * b - 1, tx * b - 1  # window incl. halo ring
        cells = pdf.drop_duplicates(subset=["row", "col"])
        lr = cells["row"].to_numpy(np.int64) - r0
        lc = cells["col"].to_numpy(np.int64) - c0
        cost = np.zeros((b + 2, b + 2))
        valid = np.zeros((b + 2, b + 2), dtype=bool)
        cost[lr, lc] = cells["value"].to_numpy(np.float64)
        valid[lr, lc] = True
        outs = []
        seeded = pdf[pdf["src"].notna()]
        for src, g in seeded.groupby("src"):
            sr = g["row"].to_numpy(np.int64) - r0
            sc = g["col"].to_numpy(np.int64) - c0
            sd = g["dist"].to_numpy(np.float64)
            loc = _dijkstra_seeded(
                cost, valid, [(int(a), int(bb), float(d)) for a, bb, d in zip(sr, sc, sd)]
            )
            seed_arr = np.full((b + 2, b + 2), np.inf)
            seed_arr[sr, sc] = sd
            reach = np.isfinite(loc) & valid & (loc < seed_arr)  # strict improvement
            rr, cc = np.nonzero(reach)
            outs.append(
                pd.DataFrame(
                    {"src": np.full(len(rr), int(src), dtype=np.int64),
                     "row": rr.astype(np.int64) + r0,
                     "col": cc.astype(np.int64) + c0,
                     "dist": loc[rr, cc]}
                )
            )
        return pd.concat(outs) if outs else pd.DataFrame(
            {"src": pd.Series(dtype=np.int64), "row": pd.Series(dtype=np.int64),
             "col": pd.Series(dtype=np.int64), "dist": pd.Series(dtype=np.float64)}
        )

    # membership of a cell in block (home+da, home+db) is pure integer
    # arithmetic — dirty blocks come from the frontier WITHOUT touching
    # the (much larger) halo-replicated cost table
    offsets9, on_edge9 = _halo_offsets(spark, b, include_center=True)

    it = 0
    while it < max_rounds:
        it += 1
        dirty = (
            frontier.crossJoin(F.broadcast(offsets9))
            .filter(on_edge9)
            .select(
                (F.floor(F.col("row") / b) + F.col("da")).alias("trow"),
                (F.floor(F.col("col") / b) + F.col("db")).alias("tcol"),
            )
            .distinct()
        )
        seeds = (
            tiled.join(F.broadcast(dirty), ["trow", "tcol"])
            .join(dist, ["row", "col"], "left")
        )
        cand = seeds.groupBy("trow", "tcol").applyInPandas(
            kernel, schema="src long, row long, col long, dist double"
        ).groupBy("src", "row", "col").agg(F.min("dist").alias("nd"))
        joined = cand.join(dist, ["src", "row", "col"], "left")
        improved = joined.filter(
            F.col("dist").isNull() | (F.col("nd") < F.col("dist"))
        ).select("src", "row", "col", F.col("nd").alias("dist"))
        improved = improved.localCheckpoint(eager=True)
        if improved.isEmpty():
            break
        dist = (
            dist.unionByName(improved)
            .groupBy("src", "row", "col")
            .agg(F.min("dist").alias("dist"))
        )
        # truncate the union/groupBy lineage chain periodically (every
        # round would double the per-round job count)
        if it % 3 == 0:
            dist = dist.localCheckpoint(eager=True)
        frontier = improved
    # sever lineage from the cached inputs, then release them
    dist = dist.localCheckpoint(eager=True)
    seed.unpersist()
    tiled.unpersist()
    return dist


def trace_route(dist: np.ndarray, valid: np.ndarray, r1: int, c1: int) -> list[tuple[int, int]]:
    """Greedy steepest-descent traceback on a cumulative-cost surface:
    the MCP route from (r1, c1) back to the source (dist == 0),
    returned source→destination. The reference's routes path dies on a
    NameError (georasters.py:1461 — SURVEY §1.4.7); we implement it
    properly and deliberately diverge."""
    h, w = dist.shape
    if not np.isfinite(dist[r1, c1]):
        return []
    path = [(int(r1), int(c1))]
    r, c = int(r1), int(c1)
    for _ in range(h * w):
        if dist[r, c] == 0.0:
            break
        best = None
        for dr, dc, _ in _STEPS:
            nr, nc = r + dr, c + dc
            if 0 <= nr < h and 0 <= nc < w and valid[nr, nc]:
                if best is None or dist[nr, nc] < best[0]:
                    best = (dist[nr, nc], nr, nc)
        if best is None or best[0] >= dist[r, c]:
            break
        _, r, c = best
        path.append((r, c))
    return list(reversed(path))


def _routing_inputs(images, sources, destinations, origin, cellsize, bbox):
    """The cost surface as valid (row, col, value) cells, clipped first
    to bbox = (r0, r1, c0, c1), a half-open pixel window, when given
    (clip-then-route: cells outside are impassable), and the sources'
    and destinations' (point_id, row, col) cells as int64 (n, 3)
    arrays, a point's cell being (round((y − y0)/cy), round((x − x0)/cx))."""
    from ..operators import pixels as PX

    x0, y0 = origin
    cx, cy = cellsize
    px = PX.pixel_table(images, valid_only=True, with_coords=False).select(
        "row", "col", "value"
    )
    if bbox is not None:
        r0, r1, c0, c1 = bbox
        px = px.filter(
            (F.col("row") >= r0) & (F.col("row") < r1)
            & (F.col("col") >= c0) & (F.col("col") < c1)
        )

    def cells(points: DataFrame) -> np.ndarray:
        pdf = points.select("point_id", "x", "y").toPandas()
        return np.column_stack([
            pdf["point_id"].to_numpy(np.int64),
            np.round((pdf["y"].to_numpy() - y0) / cy).astype(np.int64),
            np.round((pdf["x"].to_numpy() - x0) / cx).astype(np.int64),
        ]).reshape(-1, 3)

    return px, cells(sources), cells(destinations)


def cost_distance(
    images: DataFrame,
    sources: DataFrame,
    destinations: DataFrame,
    origin: tuple[float, float],
    cellsize: tuple[float, float],
    routes: bool = False,
    block: int = 288,
    bbox: tuple[int, int, int, int] | None = None,
) -> DataFrame:
    """All-pairs least-cost travel time (the gated path).

    sources/destinations: (point_id, x, y). Returns (id1, id2,
    dist_weeks) for reachable pairs plus per-source isolation rows
    (id2 = -1, dist_weeks = mean reachable cumulative cost / 168,
    georasters.py:1438-1442).

    bbox = (r0, r1, c0, c1) half-open pixel window clips the cost
    surface first (clip-then-route; masked/outside cells impassable),
    with or without routes.

    The isolation mean is DETERMINISTIC by design: per-cell dists are
    quantized to exact micro-units (round(dist·1e6) as BIGINT) and
    summed as integers, so the result is identical on any partitioning
    or merge order — a reproducibility requirement at cluster scale,
    where a naive float avg() is partition-order-dependent. The
    quantization shifts the mean by < 5e-7/168 ≈ 3e-9 weeks, far below
    the 6-dp output rounding.

    Runs the distributed block SSSP — the cost surface is never
    collected to the driver or broadcast whole. routes=True needs the
    full per-source surface for the greedy traceback and delegates to
    the small-grid broadcast path.
    """
    px, src_cells, dst_cells = _routing_inputs(
        images, sources, destinations, origin, cellsize, bbox)
    if routes:
        return _broadcast_dijkstra(px, src_cells, dst_cells, routes=True)
    spark = images.sparkSession
    dist = block_sssp(px, src_cells.tolist(), block=block)
    dstdf = spark.createDataFrame(dst_cells.tolist() or [(-(1 << 40), -1, -1)],
                                  "id2 long, row long, col long")
    pairs = dist.join(F.broadcast(dstdf), ["row", "col"]).select(
        F.col("src").alias("id1"), "id2",
        (F.col("dist") / HOURS_PER_WEEK).alias("dist_weeks"),
    )
    # deterministic mean (see docstring): exact BIGINT micro-unit sum,
    # association-free; division chain (S/c)/1e6/168 mirrors the SQL
    # oracle token-for-token. Micro-units cap at ~9e18/1e6 = 9e12 raw
    # cost per cell — far above any real surface.
    micro = F.round(F.col("dist") * F.lit(1000000.0)).cast("long")
    iso = dist.groupBy("src").agg(
        (F.sum(micro).cast("double") / F.count(F.lit(1))
         / F.lit(1000000.0) / F.lit(168.0)).alias("dist_weeks")
    ).select(F.col("src").alias("id1"), F.lit(-1).cast("long").alias("id2"), "dist_weeks")
    return pairs.unionByName(iso).withColumn("dist_weeks", F.round("dist_weeks", 6))


def cost_distance_broadcast(
    images: DataFrame,
    sources: DataFrame,
    destinations: DataFrame,
    origin: tuple[float, float],
    cellsize: tuple[float, float],
    routes: bool = False,
) -> DataFrame:
    """Small-grid fast path: collect the surface once, broadcast it,
    run per-source Dijkstra in executor tasks (grouped applyInPandas).
    Driver-memory-bound by design — use cost_distance (block SSSP) when
    the surface doesn't comfortably fit one machine. Only this path
    supports routes=True (greedy traceback needs the full surface).
    """
    return _broadcast_dijkstra(
        *_routing_inputs(images, sources, destinations, origin, cellsize, None),
        routes=routes)


def _broadcast_dijkstra(px: DataFrame, src_cells: np.ndarray,
                        dst_cells: np.ndarray, routes: bool) -> DataFrame:
    """cost_distance_broadcast over _routing_inputs' cost cells and
    point cells."""
    spark = px.sparkSession
    pdf = px.toPandas()
    h = int(pdf["row"].max()) + 1
    w = int(pdf["col"].max()) + 1
    cost = np.zeros((h, w))
    valid = np.zeros((h, w), dtype=bool)
    cost[pdf["row"], pdf["col"]] = pdf["value"]
    valid[pdf["row"], pdf["col"]] = True
    bc = spark.sparkContext.broadcast((cost, valid))

    dids, drows, dcols = dst_cells.T

    def per_source(pdf_src: pd.DataFrame) -> pd.DataFrame:
        cost_, valid_ = bc.value
        out = []
        for s in pdf_src.itertuples(index=False):
            dist = dijkstra_grid(cost_, valid_, int(s.row), int(s.col))
            inb = (drows >= 0) & (drows < dist.shape[0]) & (dcols >= 0) & (dcols < dist.shape[1])
            dd = np.full(len(dids), np.inf)
            dd[inb] = dist[drows[inb], dcols[inb]]
            ok = np.isfinite(dd)
            for i in np.flatnonzero(ok):
                rec = [int(s.point_id), int(dids[i]), float(dd[i] / HOURS_PER_WEEK)]
                if routes:
                    rec.append(
                        [[int(r), int(c)] for r, c in
                         trace_route(dist, valid_, int(drows[i]), int(dcols[i]))]
                    )
                out.append(tuple(rec))
            reach = dist[valid_ & np.isfinite(dist)]
            if reach.size:
                rec = [int(s.point_id), -1, float(reach.mean() / HOURS_PER_WEEK)]
                if routes:
                    rec.append([])
                out.append(tuple(rec))
        cols = ["id1", "id2", "dist_weeks"] + (["route"] if routes else [])
        return pd.DataFrame(out, columns=cols)

    schema = "id1 long, id2 long, dist_weeks double" + (
        ", route array<array<long>>" if routes else ""
    )
    src = spark.createDataFrame(
        src_cells.tolist(), "point_id long, row long, col long"
    ).repartition(
        max(1, min(len(src_cells), spark.sparkContext.defaultParallelism)),
        "point_id",
    )
    return src.groupBy("point_id").applyInPandas(
        lambda key, g: per_source(g), schema=schema
    ).withColumn("dist_weeks", F.round("dist_weeks", 6))
