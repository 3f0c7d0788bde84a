"""Cost-distance vs an independent oracle; polygonize cross-tile merge."""

import heapq
import math

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from georasters_spark.operators import algebra as AL
from georasters_spark.operators import distance as DI


def oracle_dijkstra(cost, valid, r0, c0):
    """Independent implementation (dict-based, different code path)."""
    h, w = cost.shape
    dist = {}
    pq = [(0.0, (r0, c0))]
    best = {(r0, c0): 0.0}
    while pq:
        d, (r, c) = heapq.heappop(pq)
        if (r, c) in dist:
            continue
        dist[(r, c)] = d
        for dr in (-1, 0, 1):
            for dc in (-1, 0, 1):
                if dr == dc == 0:
                    continue
                nr, nc = r + dr, c + dc
                if 0 <= nr < h and 0 <= nc < w and valid[nr, nc]:
                    sl = math.sqrt(2) if dr and dc else 1.0
                    nd = d + (cost[r, c] + cost[nr, nc]) / 2 * sl
                    if nd < best.get((nr, nc), np.inf):
                        best[(nr, nc)] = nd
                        heapq.heappush(pq, (nd, (nr, nc)))
    return dist


def test_dijkstra_grid_matches_independent_oracle():
    rng = np.random.default_rng(5)
    cost = rng.uniform(1, 10, (20, 25))
    valid = rng.uniform(size=(20, 25)) > 0.2
    valid[3, 4] = True
    got = DI.dijkstra_grid(cost, valid, 3, 4)
    exp = oracle_dijkstra(cost, valid, 3, 4)
    for (r, c), d in exp.items():
        assert abs(got[r, c] - d) < 1e-9
    # unreached cells are inf
    reached = set(exp)
    for r in range(20):
        for c in range(25):
            if valid[r, c] and (r, c) not in reached:
                assert np.isinf(got[r, c])


def test_dijkstra_symmetric():
    rng = np.random.default_rng(6)
    cost = rng.uniform(1, 5, (15, 15))
    valid = np.ones((15, 15), dtype=bool)
    d_ab = DI.dijkstra_grid(cost, valid, 2, 3)[12, 11]
    d_ba = DI.dijkstra_grid(cost, valid, 12, 11)[2, 3]
    assert abs(d_ab - d_ba) < 1e-9  # symmetric edge costs ⇒ symmetric dist


def test_cost_distance_unit_and_inf_rule(spark, images_t1):
    """Travel times are in weeks (/168, georasters.py:1432); unreachable
    pairs dropped (:1437); isolation rows id2 = -1 (:1438-1442)."""
    from georasters_spark.sources import synth

    spec = synth.T1
    pts = synth.points_df(spark, 12)
    out = DI.cost_distance(
        images_t1,
        pts.filter(F.col("point_id") < 2),
        pts.filter(F.col("point_id") >= 2),
        origin=(spec.x0, spec.y0),
        cellsize=(spec.cellx, spec.celly),
    ).toPandas()
    assert (out.dist_weeks >= 0).all()
    assert np.isfinite(out.dist_weeks).all()  # inf dropped
    iso = out[out.id2 == -1]
    assert len(iso) <= 2  # one isolation row per reachable source
    # independent check for source 0 → dest 2
    full = synth.stitched_array(spec)
    valid = full != spec.ndv
    cost = np.where(valid, full, 0).astype(np.float64)
    p = pts.toPandas().set_index("point_id")
    r0 = int(np.round((p.loc[0, "y"] - spec.y0) / spec.celly))
    c0 = int(np.round((p.loc[0, "x"] - spec.x0) / spec.cellx))
    if valid[r0, c0]:
        dist = DI.dijkstra_grid(cost, valid, r0, c0)
        r2 = int(np.round((p.loc[2, "y"] - spec.y0) / spec.celly))
        c2 = int(np.round((p.loc[2, "x"] - spec.x0) / spec.cellx))
        want = dist[r2, c2] / 168.0
        row = out[(out.id1 == 0) & (out.id2 == 2)]
        if np.isfinite(want):
            assert abs(row.dist_weeks.iloc[0] - round(want, 6)) < 1e-6
        else:
            assert len(row) == 0


def test_cost_distance_routes_output(spark, images_t1):
    """routes=True emits per-pair least-cost paths: endpoints at the
    source/destination cells, 8-connected steps."""
    from georasters_spark.sources import synth

    spec = synth.T1
    pts = synth.points_df(spark, 20)
    out = DI.cost_distance(
        images_t1,
        pts.filter(F.col("point_id") < 4),
        pts.filter(F.col("point_id") >= 4),
        origin=(spec.x0, spec.y0),
        cellsize=(spec.cellx, spec.celly),
        routes=True,
    ).toPandas()
    paths = out[out.id2 >= 0]
    assert len(paths) > 0
    for r in paths.itertuples():
        p = [tuple(step) for step in r.route]
        assert len(p) >= 1
        assert all(
            max(abs(a[0] - b[0]), abs(a[1] - b[1])) == 1 for a, b in zip(p, p[1:])
        )


def test_block_sssp_matches_dijkstra(spark):
    """Distributed block SSSP (the gated scale path) is BIT-IDENTICAL
    to the in-memory Dijkstra for every reached cell, multi-source,
    across block boundaries and around obstacles."""
    rng = np.random.default_rng(11)
    h, w = 40, 55
    cost = rng.uniform(1, 9, (h, w))
    valid = rng.uniform(size=(h, w)) > 0.18
    valid[2, 3] = valid[33, 50] = True
    rows = [
        (r, c, float(cost[r, c])) for r in range(h) for c in range(w) if valid[r, c]
    ]
    px = spark.createDataFrame(rows, "row long, col long, value double")
    got = DI.block_sssp(px, [(0, 2, 3), (7, 33, 50)], block=16).toPandas()
    for src, (r0, c0) in [(0, (2, 3)), (7, (33, 50))]:
        exp = DI.dijkstra_grid(cost, valid, r0, c0)
        sub = got[got["src"] == src]
        assert len(sub) == int(np.isfinite(exp[valid]).sum())
        for t in sub.itertuples(index=False):
            assert exp[t.row, t.col] == t.dist  # exact, not approx


def test_cost_window_oracle_K_is_sufficient():
    """The cost_distance_window gate's DuckDB oracle is K-round
    Bellman-Ford; this pins K: on the gate's exact window, BF_K equals
    Dijkstra BIT-FOR-BIT (so the unrolled oracle is the true fixpoint,
    not a truncation). Deterministic data ⇒ proven once, stable."""
    from georasters_spark.queries import _CDW
    from georasters_spark.sources import synth

    p = _CDW
    spec = synth.T1
    full = synth.stitched_array(spec).astype(np.float64)
    win = full[p["r0"]:p["r1"], p["c0"]:p["c1"]]
    valid = win != spec.ndv
    cost = np.where(valid, win, 0.0)
    sr, sc = p["src_r"] - p["r0"], p["src_c"] - p["c0"]
    assert valid[sr, sc], "gate source must sit on a valid cell"
    dij = DI.dijkstra_grid(cost, valid, sr, sc)

    h, w = cost.shape
    bf = np.full((h, w), np.inf)
    bf[sr, sc] = 0.0
    steps = [(dr, dc, math.sqrt(2) if dr and dc else 1.0)
             for dr in (-1, 0, 1) for dc in (-1, 0, 1) if (dr, dc) != (0, 0)]
    converged_at = None
    for k in range(1, p["K"] + 1):
        prev = bf.copy()
        for dr, dc, sl in steps:
            # relax edges (r,c) -> (r+dr, c+dc)
            src_sl = (slice(max(0, -dr), h - max(0, dr)), slice(max(0, -dc), w - max(0, dc)))
            dst_sl = (slice(max(0, dr), h + min(0, dr)), slice(max(0, dc), w + min(0, dc)))
            wgt = (cost[src_sl] + cost[dst_sl]) / 2.0 * sl
            cand = prev[src_sl] + wgt
            cand[~valid[src_sl] | ~valid[dst_sl]] = np.inf
            np.minimum(bf[dst_sl], cand, out=bf[dst_sl])
        if converged_at is None and np.array_equal(bf, prev):
            converged_at = k
            break
    assert converged_at is not None and converged_at < p["K"], converged_at
    fin = np.isfinite(dij)
    assert np.array_equal(np.isfinite(bf), fin)
    assert np.array_equal(bf[fin], dij[fin])  # exact, not approx


def test_relaxation_matches_dijkstra(spark):
    """Distributed block SSSP over 4×4 blocks (many block-boundary
    crossings) == in-memory Dijkstra exactly, on a small cost surface
    with obstacles."""
    rng = np.random.default_rng(9)
    h, w = 18, 22
    cost = rng.uniform(1, 9, (h, w))
    valid = rng.uniform(size=(h, w)) > 0.15
    valid[2, 3] = True
    rows = [
        (r, c, float(cost[r, c]))
        for r in range(h)
        for c in range(w)
        if valid[r, c]
    ]
    px = spark.createDataFrame(rows, "row long, col long, value double")
    got = DI.block_sssp(px, [(0, 2, 3)], block=4).toPandas()
    exp = DI.dijkstra_grid(cost, valid, 2, 3)
    assert len(got) > 0 and (got.src == 0).all()
    for r in got.itertuples():
        assert r.dist == exp[r.row, r.col]
    # block SSSP reaches exactly the reachable set
    reach = int(np.isfinite(exp[valid]).sum())
    assert len(got) == reach


def test_routes_respect_bbox(spark, images_t1):
    """routes=True clips the cost surface to bbox like routes=False:
    every route step lies inside the window and the pairs (ids and
    travel times) equal the routes=False result.  On this 5-row T1
    strip the unclipped least-cost routes leave the window."""
    from georasters_spark.queries import _window_points
    from georasters_spark.sources import synth

    spec = synth.T1
    r0, r1, c0, c1 = bbox = (99, 104, 195, 240)
    kw = dict(origin=(spec.x0, spec.y0), cellsize=(spec.cellx, spec.celly),
              bbox=bbox)
    srcs = _window_points(spark, [(0, 101, 200)])
    dsts = _window_points(spark, [(10, 101, 235), (11, 103, 215),
                                  (12, 100, 225), (13, 102, 239)])
    plain = DI.cost_distance(images_t1, srcs, dsts, **kw).toPandas()
    routed = DI.cost_distance(images_t1, srcs, dsts, routes=True, **kw).toPandas()
    key = ["id1", "id2"]
    a = plain[plain.id2 >= 0].sort_values(key).reset_index(drop=True)
    b = routed[routed.id2 >= 0].sort_values(key).reset_index(drop=True)
    assert list(a.id2) == [10, 11, 12, 13]
    pd.testing.assert_frame_equal(a[key + ["dist_weeks"]], b[key + ["dist_weeks"]])
    for route in b.route:
        assert len(route) > 0
        assert all(r0 <= r < r1 and c0 <= c < c1 for r, c in route)


def test_route_traceback(spark):
    """Greedy traceback follows a monotone-decreasing cost path from
    destination to source with 8-connected steps."""
    rng = np.random.default_rng(4)
    cost = rng.uniform(1, 5, (25, 25))
    valid = np.ones((25, 25), dtype=bool)
    dist = DI.dijkstra_grid(cost, valid, 1, 1)
    path = DI.trace_route(dist, valid, 20, 22)
    assert path[0] == (1, 1) and path[-1] == (20, 22)
    ds = [dist[r, c] for r, c in path]
    assert all(ds[i] < ds[i + 1] for i in range(len(ds) - 1))
    assert all(
        max(abs(a[0] - b[0]), abs(a[1] - b[1])) == 1
        for a, b in zip(path, path[1:])
    )


def test_polygonize_cross_tile_merge(spark):
    """A constant-value strip spanning the col 63|64 tile border must be
    ONE region; plus isolated single cells."""
    rows = []
    for c in range(60, 70):
        rows.append((10, c, 7.0))  # strip crossing the tile border
    rows.append((40, 40, 7.0))     # same value, disconnected
    rows.append((50, 100, 3.0))    # other value, other tile
    px = spark.createDataFrame(rows, "row long, col long, value double")
    out = AL.polygonize(px).toPandas().sort_values(["value", "n_cells"]).reset_index(drop=True)
    assert len(out) == 3
    strip = out[out.n_cells == 10].iloc[0]
    assert strip.value == 7.0 and strip.min_col == 60 and strip.max_col == 69
    assert set(out.n_cells) == {10, 1, 1} or sorted(out.n_cells) == [1, 1, 10]


def test_polygonize_region_count_vs_numpy(spark, images_t1):
    """Total region count == single-node flood fill on the stitched
    quantized grid (distributed == local oracle)."""
    from georasters_spark.operators import pixels as PX
    from georasters_spark.sources import synth

    spec = synth.T1
    px = PX.pixel_table(images_t1, valid_only=True).select(
        "row", "col", (F.col("value").cast("long") / 250).cast("long").cast("double").alias("value")
    )
    got = AL.polygonize(px).count()

    full = synth.stitched_array(spec).astype(np.int64)
    valid = full != spec.ndv
    q = np.where(valid, full // 250, -1)
    seen = np.zeros_like(valid)
    n = 0
    for i, j in zip(*np.nonzero(valid)):
        if seen[i, j]:
            continue
        n += 1
        stack = [(i, j)]
        seen[i, j] = True
        while stack:
            a, b = stack.pop()
            for da, db in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                na, nb = a + da, b + db
                if (
                    0 <= na < q.shape[0]
                    and 0 <= nb < q.shape[1]
                    and valid[na, nb]
                    and not seen[na, nb]
                    and q[na, nb] == q[a, b]
                ):
                    seen[na, nb] = True
                    stack.append((na, nb))
    assert got == n


def _parse_wkt(wkt):
    assert wkt.startswith("POLYGON (") and wkt.endswith(")")
    body = wkt[len("POLYGON ("):-1]
    rings = []
    depth = 0
    cur = ""
    for ch in body:
        if ch == "(":
            depth += 1
            cur = ""
        elif ch == ")":
            depth -= 1
            rings.append([tuple(float(v) for v in p.split()) for p in cur.split(", ")])
        elif depth == 1:
            cur += ch
    return rings


def _shoelace(ring):
    s = 0.0
    for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
        s += x1 * y2 - x2 * y1
    return s / 2.0


def test_polygonize_geoms_simple_shapes(spark):
    """Ring assembly: single cell → unit square; L-shape → one 8-vertex
    ring; ring-of-cells → polygon WITH a hole; areas = n_cells."""
    from georasters_spark.operators.algebra import polygonize_geoms

    origin, cellsize = (0.0, 0.0), (1.0, -1.0)
    rows = [(0, 0, 1.0)]                                 # single cell
    rows += [(5, c, 2.0) for c in (0, 1)] + [(6, 0, 2.0)]  # L-shape
    # 3x3 ring of cells around an empty center (hole)
    rows += [(10 + r, 10 + c, 3.0) for r in range(3) for c in range(3)
             if not (r == 1 and c == 1)]
    px = spark.createDataFrame(rows, "row long, col long, value double")
    got = polygonize_geoms(px, origin, cellsize).toPandas().sort_values("value")
    assert len(got) == 3
    one = got[got.value == 1.0].iloc[0]
    assert one.n_rings == 1 and one.area_cells == 1
    r = _parse_wkt(one.wkt)[0]
    assert r[0] == r[-1] and len(r) == 5
    assert abs(abs(_shoelace(r)) - 1.0) < 1e-9
    ell = got[got.value == 2.0].iloc[0]
    assert ell.n_rings == 1 and ell.area_cells == 3
    assert len(_parse_wkt(ell.wkt)[0]) == 7  # 6 corners + closure
    donut = got[got.value == 3.0].iloc[0]
    assert donut.n_rings == 2 and donut.area_cells == 8
    rings = _parse_wkt(donut.wkt)
    outer, hole = rings[0], rings[1]
    assert abs(abs(_shoelace(outer)) - 9.0) < 1e-9
    assert abs(abs(_shoelace(hole)) - 1.0) < 1e-9


def test_polygonize_geoms_t1_area_invariant(spark, images_t1):
    """On the full T1 quantized grid: every region's WKT net shoelace
    area equals n_cells·|cx·cy| and total area_cells == valid count."""
    from georasters_spark.operators import pixels as PX
    from georasters_spark.operators.algebra import polygonize_geoms
    from georasters_spark.sources import synth

    spec = synth.T1
    px = PX.pixel_table(images_t1, valid_only=True).select(
        "row", "col",
        (F.col("value").cast("long") / 500).cast("long").cast("double").alias("value"),
    )
    got = polygonize_geoms(
        px, (spec.x0, spec.y0), (spec.cellx, spec.celly)
    ).toPandas()
    cell_area = abs(spec.cellx * spec.celly)
    full = synth.stitched_array(spec)
    assert got.area_cells.sum() == int((full != spec.ndv).sum())
    # spot-check 50 regions' parsed geometry
    for _, t in got.sample(n=min(50, len(got)), random_state=1).iterrows():
        rings = _parse_wkt(t.wkt)
        assert len(rings) == t.n_rings
        net = sum(_shoelace(r) for r in rings)
        assert abs(abs(net) - t.area_cells * cell_area) < 1e-6 * cell_area
        for r in rings:
            assert r[0] == r[-1]


def test_polygonize_8_connectivity(spark):
    """Diagonal-only touching cells merge under connectivity=8 but stay
    separate under 4 — including across a tile border."""
    rows = [(10, 63, 5.0), (11, 64, 5.0), (30, 30, 5.0), (31, 31, 5.0)]
    px = spark.createDataFrame(rows, "row long, col long, value double")
    four = AL.polygonize(px, connectivity=4).toPandas()
    eight = AL.polygonize(px, connectivity=8).toPandas()
    assert len(four) == 4
    assert len(eight) == 2
    assert sorted(eight.n_cells) == [2, 2]


def test_block_sssp_edge_cases(spark):
    """Sources on masked/out-of-grid cells contribute nothing; isolated
    single-cell components only reach themselves; duplicate source
    coordinates with distinct ids are tracked independently."""
    rows = [(0, 0, 2.0), (0, 1, 3.0), (5, 5, 4.0)]  # pair + isolated cell
    px = spark.createDataFrame(rows, "row long, col long, value double")
    got = DI.block_sssp(
        px, [(1, 0, 0), (2, 9, 9), (3, 5, 5), (4, 0, 0)], block=4
    ).toPandas()
    by_src = {s: g.set_index(["row", "col"])["dist"] for s, g in got.groupby("src")}
    assert 2 not in by_src  # source off-grid: nothing reached
    assert set(by_src[3].index) == {(5, 5)} and by_src[3][(5, 5)] == 0.0
    for s in (1, 4):  # duplicate source cell, distinct ids
        assert by_src[s][(0, 0)] == 0.0
        assert by_src[s][(0, 1)] == (2.0 + 3.0) / 2.0
        assert (5, 5) not in by_src[s].index  # disconnected component
