"""Autocorrelation: row-standardized Moran vs numpy oracle on the 5x5
gradient fixture (FIXTURES.md §4.3, reference tests/test_georasters.py:
408-445), plus lattice-weights structural checks."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from georasters_spark.operators import autocorr as AC

GRAD = np.array(
    [
        [10, 12, 11, 13, 10],
        [20, 22, 21, 23, 20],
        [30, 32, 31, 33, 30],
        [40, 42, 41, 43, 40],
        [50, 52, 51, 53, 50],
    ],
    dtype=np.float64,
)


def _moran_numpy_rowstd(a: np.ndarray) -> float:
    """Direct reimplementation of esda Moran with row-standardized
    queen weights (georasters.py:1740-1775 + pysal formulas)."""
    h, w = a.shape
    n = a.size
    z = a.ravel() - a.mean()
    num = 0.0
    s0 = 0.0
    for r in range(h):
        for c in range(w):
            i = r * w + c
            nbrs = [
                (r + dr) * w + (c + dc)
                for dr in (-1, 0, 1)
                for dc in (-1, 0, 1)
                if not (dr == 0 and dc == 0)
                and 0 <= r + dr < h
                and 0 <= c + dc < w
            ]
            wgt = 1.0 / len(nbrs)
            s0 += wgt * len(nbrs)
            num += z[i] * wgt * sum(z[j] for j in nbrs)
    return (n / s0) * num / (z @ z)


def _px_df(spark, a):
    h, w = a.shape
    rows = [(int(r), int(c), float(a[r, c])) for r in range(h) for c in range(w)]
    return spark.createDataFrame(rows, "row long, col long, value double")


def test_moran_rowstd_matches_numpy(spark):
    """The facade's default Moran (row-standardized weights, the exact
    840-scaled plan) on the float gradient fixture."""
    from georasters_spark.frame import GeoRasterFrame

    frame = GeoRasterFrame(_px_df(spark, GRAD), origin=(0.0, 0.0),
                           cellsize=(1.0, -1.0), shape=GRAD.shape)
    got = frame.pysal_Moran().collect()[0]["moran_r"]
    exp = _moran_numpy_rowstd(GRAD)
    assert abs(got - exp) < 1e-9, (got, exp)


def test_exact_plans_refuse_fractional_values(spark):
    """The exact integer plans cast values to int64; a fractional value
    must raise rather than be truncated (Moran's I is scale-invariant,
    a truncated GRAD/2 is not), while whole-number doubles give the
    same rows as the int64 table in the non-permutation plans."""
    import pytest

    thr = 30
    entry_points = {
        "global": lambda px: AC.global_autocorr(px, thr).collect(),
        "rowstd": lambda px: AC.global_autocorr_rowstd(px).collect(),
        "local_moran": lambda px: AC.local_moran(px).collect(),
        "local_moran_rowstd": lambda px: AC.local_moran_rowstd(px).collect(),
        "local_geary": lambda px: AC.local_geary(px).collect(),
        "gstar_local": lambda px: AC.gstar_local(px).collect(),
        "g_local": lambda px: AC.g_local(px).collect(),
        "moran_perm": lambda px: AC.moran_permutation_test(px, n_perm=3).collect(),
        "moran_perm_r": lambda px: AC.moran_permutation_test(
            px, n_perm=3, transform="r").collect(),
        "geary_perm": lambda px: AC.geary_permutation_test(px, n_perm=3).collect(),
        "geary_perm_r": lambda px: AC.geary_permutation_test(
            px, n_perm=3, transform="r").collect(),
        "gamma_perm": lambda px: AC.gamma_joincount_permutation_test(
            px, thr, n_perm=3).collect(),
        "local_perm": lambda px: AC.local_permutation_test(px, n_perm=3).collect(),
    }
    half = _px_df(spark, GRAD / 2)
    as_float = _px_df(spark, GRAD)
    as_long = as_float.select("row", "col", F.col("value").cast("long").alias("value"))
    for name, run in entry_points.items():
        with pytest.raises(ValueError, match="integer-valued"):
            run(half)
        # the permutation tests cast values like the plans below; their
        # pair frames are the slow part of this test, so they skip it
        if "perm" not in name:
            assert sorted(run(as_float)) == sorted(run(as_long)), name
    moran_r = AC.global_autocorr_rowstd(as_float).collect()[0]["moran_r"]
    moran_i = AC.global_autocorr(as_float, thr).collect()[0]["moran_i"]
    assert round(moran_r, 6) == 0.742703 and round(moran_i, 6) == 0.633186


def test_global_autocorr_rowstd_matches_numpy(spark):
    """The gated exact-integer 840-scaled plan equals the float
    reference implementation (values are integers here so both are
    exact up to final float ops)."""
    a = GRAD.astype(np.int64).astype(np.float64)
    px = _px_df(spark, a).select("row", "col", F.col("value").cast("long").alias("value"))
    row = AC.global_autocorr_rowstd(px).collect()[0]
    exp = _moran_numpy_rowstd(a)
    assert abs(row["moran_r"] - exp) < 1e-9, (row["moran_r"], exp)
    assert row["n"] == 25 and row["nw"] == 25
    # Geary rowstd vs direct numpy
    h, w = a.shape
    z = a.ravel() - a.mean()
    num = s0 = 0.0
    for r in range(h):
        for c in range(w):
            nbrs = [(r + dr, c + dc) for dr in (-1, 0, 1) for dc in (-1, 0, 1)
                    if (dr, dc) != (0, 0) and 0 <= r + dr < h and 0 <= c + dc < w]
            wgt = 1.0 / len(nbrs)
            s0 += 1.0
            num += wgt * sum((a[r, c] - a[p, q]) ** 2 for p, q in nbrs)
    exp_c = ((a.size - 1) / (2.0 * s0)) * num / (z @ z)
    assert abs(row["geary_r"] - exp_c) < 1e-9, (row["geary_r"], exp_c)


def test_gstar_local_matches_numpy(spark):
    """z-form Getis-Ord G*_i vs direct numpy on the gradient fixture."""
    import math

    a = GRAD
    px = _px_df(spark, a).select("row", "col", F.col("value").cast("long").alias("value"))
    got = AC.gstar_local(px).toPandas().set_index(["row", "col"])
    n = a.size
    mean = a.mean()
    s_h = math.sqrt((a * a).mean() - mean * mean)
    h, w = a.shape
    for r in range(h):
        for c in range(w):
            nb = [a[r + dr, c + dc] for dr in (-1, 0, 1) for dc in (-1, 0, 1)
                  if 0 <= r + dr < h and 0 <= c + dc < w]
            wi = len(nb)
            z = (sum(nb) - mean * wi) / (s_h * math.sqrt((n * wi - wi * wi) / (n - 1)))
            assert abs(got.loc[(r, c), "z_gstar"] - z) < 1e-9


def test_g_local_matches_numpy(spark):
    """Plain G_i (star=False, self EXCLUDED, leave-one-out moments) vs
    direct numpy — and it must differ from G*_i everywhere."""
    import math

    a = GRAD
    px = _px_df(spark, a).select("row", "col", F.col("value").cast("long").alias("value"))
    got = AC.g_local(px).toPandas().set_index(["row", "col"])
    n = a.size
    S = a.sum()
    Q = (a * a).sum()
    h, w = a.shape
    assert len(got) == n  # no isolated cells on the dense grid
    for r in range(h):
        for c in range(w):
            nb = [a[r + dr, c + dc] for dr in (-1, 0, 1) for dc in (-1, 0, 1)
                  if (dr, dc) != (0, 0)
                  and 0 <= r + dr < h and 0 <= c + dc < w]
            wi = len(nb)
            xbar = (S - a[r, c]) / (n - 1)
            s2 = (Q - a[r, c] ** 2) / (n - 1) - xbar * xbar
            z = (sum(nb) - xbar * wi) / (
                math.sqrt(s2) * math.sqrt((wi * (n - 1) - wi * wi) / (n - 2)))
            assert abs(got.loc[(r, c), "z_g"] - z) < 1e-9
            assert got.loc[(r, c), "wi"] == wi
    gs = AC.gstar_local(px).toPandas().set_index(["row", "col"])
    assert not np.allclose(got["z_g"].sort_index().to_numpy(),
                           gs["z_gstar"].sort_index().to_numpy())


def test_local_moran_rowstd_matches_numpy(spark):
    """Is_i under row-standardized weights vs direct esda-style numpy
    (n·z_i·lag_i/Σz²), and quadrants equal to the binary plan's."""
    a = GRAD
    px = _px_df(spark, a).select("row", "col", F.col("value").cast("long").alias("value"))
    got = AC.local_moran_rowstd(px).toPandas().set_index(["row", "col"])
    h, w = a.shape
    n = a.size
    z = a - a.mean()
    zz = (z * z).sum()
    for r in range(h):
        for c in range(w):
            nb = [z[r + dr, c + dc] for dr in (-1, 0, 1) for dc in (-1, 0, 1)
                  if (dr, dc) != (0, 0)
                  and 0 <= r + dr < h and 0 <= c + dc < w]
            lag = sum(nb) / len(nb)
            exp = n * z[r, c] * lag / zz
            assert abs(got.loc[(r, c), "li"] - exp) < 1e-5
    binq = (AC.local_moran(px).toPandas().set_index(["row", "col"])
            ["quadrant"].sort_index())
    assert (got["quadrant"].sort_index() == binq).all()


def test_global_perm_rowstd_mirror(spark):
    """transform='r' global permutation tests: the p=0 statistic equals
    global_autocorr_rowstd EXACTLY, and n_ge matches a numpy mirror of
    the seeded modular permutations under 1/deg weights."""
    h, w = 7, 8
    rng = np.random.RandomState(13)
    a = rng.randint(0, 60, size=(h, w)).astype(np.int64)
    pdf = pd.DataFrame({
        "row": np.repeat(np.arange(h), w),
        "col": np.tile(np.arange(w), h),
        "value": a.ravel(),
    })
    px = spark.createDataFrame(pdf)
    n = h * w
    n_perm, seed = 19, 307
    base = AC.global_autocorr_rowstd(px).collect()[0]
    mrow = AC.moran_permutation_test(px, n_perm=n_perm, seed=seed,
                                     transform="r").collect()[0]
    grow = AC.geary_permutation_test(px, n_perm=n_perm, seed=seed,
                                     transform="r").collect()[0]
    assert mrow["i_obs"] == base["moran_r"]
    assert grow["c_obs"] == base["geary_r"]
    # numpy mirror of the modular draws (identity p=0 excluded)
    vals = a.ravel()
    deg = np.zeros(n, dtype=np.int64)
    edges = []
    for r in range(h):
        for c in range(w):
            i = r * w + c
            for dr, dc in AC.QUEEN:
                if 0 <= r + dr < h and 0 <= c + dc < w:
                    edges.append((i, (r + dr) * w + (c + dc)))
                    deg[i] += 1
    S = int(vals.sum())

    def a840_c840(perm):
        A = C = 0
        for i, j in edges:
            wv = 840 // int(deg[i])
            va, vb = int(vals[perm[i]]), int(vals[perm[j]])
            A += wv * (n * va - S) * (n * vb - S)
            C += wv * (va - vb) ** 2
        return A, C

    ident = {k: k for k in range(n)}
    A0, C0 = a840_c840(ident)
    n_ge_m = n_ge_g = 0
    for _, amul, badd in AC.permutation_params(n, n_perm, seed)[1:]:
        perm = {k: (k * amul + badd) % n for k in range(n)}
        A, C = a840_c840(perm)
        n_ge_m += int(A >= A0)
        n_ge_g += int(C >= C0)
    assert mrow["n_ge"] == n_ge_m
    assert grow["n_ge"] == n_ge_g
    assert mrow["p_sim"] == (n_ge_m + 1) / (n_perm + 1)
    assert grow["p_sim"] == (n_ge_g + 1) / (n_perm + 1)


def test_neighbor_pairs_degree_structure(spark):
    px = _px_df(spark, GRAD)
    deg = (
        AC.neighbor_pairs(px)
        .groupBy("row", "col")
        .count()
        .toPandas()
        .sort_values(["row", "col"])
    )
    # queen lattice 5x5: corners 3, edges 5, interior 8
    counts = deg["count"].value_counts().to_dict()
    assert counts == {8: 9, 5: 12, 3: 4}
    rook = AC.neighbor_pairs(px, rook=True).groupBy("row", "col").count().toPandas()
    assert rook["count"].value_counts().to_dict() == {4: 9, 3: 12, 2: 4}


def test_masked_cells_drop_out(spark):
    """Masked cells removed from the lattice like raster_weights deletes
    masked nodes (georasters.py:1758-1767)."""
    a = GRAD.copy()
    px = _px_df(spark, a).filter(~((F.col("row") == 2) & (F.col("col") == 2)))
    deg = AC.neighbor_pairs(px).groupBy("row", "col").count().toPandas()
    center_nbrs = deg[(deg.row.isin([1, 2, 3])) & (deg.col.isin([1, 2, 3]))]
    # the 8 cells around the hole each lost exactly one neighbor
    assert (center_nbrs["count"] == 7).all()


def test_focal_stats_exact(spark):
    px = _px_df(spark, GRAD).withColumn("value", F.col("value").cast("long"))
    got = AC.focal_stats(px, include_self=True).toPandas().set_index(["row", "col"])
    # center cell: sum of the full 3x3 block
    assert got.loc[(2, 2), "nsum"] == int(GRAD[1:4, 1:4].sum())
    assert got.loc[(2, 2), "ncnt"] == 9
    # corner: 2x2 block
    assert got.loc[(0, 0), "nsum"] == int(GRAD[0:2, 0:2].sum())
    assert got.loc[(0, 0), "ncnt"] == 4


def test_local_permutation_test_numpy_mirror(spark):
    """local_permutation_test == a direct numpy mirror of its seeded
    modular draws on a small grid, for both stats; esda-style fold."""
    h, w = 8, 9
    rng = np.random.RandomState(7)
    a = rng.randint(0, 50, size=(h, w)).astype(np.int64)
    pdf = pd.DataFrame({
        "row": np.repeat(np.arange(h), w),
        "col": np.tile(np.arange(w), h),
        "value": a.ravel(),
    })
    px = spark.createDataFrame(pdf)
    n = h * w
    s = int(a.sum())
    n_perm, seed = 19, 211
    perms = AC.permutation_params(n, n_perm, seed)[1:]
    # numpy mirror
    vals = a.ravel()
    rank = {(r, c): r * w + c for r in range(h) for c in range(w)}
    for stat in ("moran", "gstar"):
        got = (AC.local_permutation_test(px, n_perm=n_perm, seed=seed,
                                         stat=stat)
               .toPandas().set_index(["row", "col"]).sort_index())
        assert len(got) == n
        for (r, c) in [(0, 0), (3, 4), (7, 8), (2, 0)]:
            k = rank[(r, c)]
            nbr = [(r + dr, c + dc) for dr, dc in AC.QUEEN
                   if 0 <= r + dr < h and 0 <= c + dc < w]
            ncnt = len(nbr)
            nsum = sum(int(a[p]) for p in nbr)
            zi = int(a[r, c]) * n - s
            lag_obs = nsum * n - ncnt * s
            n_ge = 0
            for _, amul, badd in perms:
                ms = []
                for t in range(1, ncnt + 1):
                    m = (amul * (k + t) + badd) % n
                    if m == k:
                        m = (amul * (k + ncnt + 1) + badd) % n
                    ms.append(m)
                assert len(set(ms)) == ncnt and k not in ms
                sumvb = sum(int(vals[m]) for m in ms)
                if stat == "moran":
                    ge = zi * (sumvb * n - ncnt * s) >= zi * lag_obs
                else:
                    ge = sumvb >= nsum
                n_ge += int(ge)
            rowr = got.loc[(r, c)]
            assert rowr.n_ge == n_ge, (stat, r, c)
            folded = min(n_ge, n_perm - n_ge)
            assert abs(rowr.p_sim - round((folded + 1) / (n_perm + 1), 6)) < 1e-9
            assert rowr.zi == zi and rowr.lag_obs == lag_obs
            assert rowr.nsum_obs == nsum
    # p_sim bounded after planting an extreme hot-spot
    pdf2 = pdf.copy(); pdf2.loc[(pdf2.row == 4) & (pdf2.col == 4), "value"] = 5000
    got2 = (AC.local_permutation_test(spark.createDataFrame(pdf2),
                                      n_perm=n_perm, seed=seed)
            .toPandas().set_index(["row", "col"]))
    assert got2.p_sim.between(0.0, 1.0).all()
    # isolated valid cell (all neighbors nodata): row EMITTED with
    # n_ge = 0 and NULL p_sim (review r5 — previously dropped)
    pdf3 = pdf[~((pdf.row <= 1) & (pdf.col <= 1) & ~((pdf.row == 0) & (pdf.col == 0)))]
    got3 = (AC.local_permutation_test(spark.createDataFrame(pdf3),
                                      n_perm=n_perm, seed=seed)
            .toPandas().set_index(["row", "col"]))
    assert len(got3) == len(pdf3)
    iso = got3.loc[(0, 0)]
    assert iso.n_ge == 0 and pd.isna(iso.p_sim) and iso.nsum_obs == 0


def test_resize_interp_orders(spark):
    """resize_grid order 1 and order 3 (prefilter=False, the Catmull-Rom
    nodata path) == numpy mirror of the identity-grid gather; order 0
    unchanged; unknown order refuses.  order=3 with the default
    prefilter=True is the skimage-parity B-spline, oracle-checked in
    test_reproject.test_resize_cubic_spline_vs_numpy_oracle and the
    resize_cubic_spline gate."""
    import pytest

    import numpy_oracles as NO
    from georasters_spark.operators import reproject as RP

    h, w = 12, 15
    rng = np.random.RandomState(3)
    a = rng.randint(0, 100, size=(h, w)).astype(np.float64)
    px = spark.createDataFrame(pd.DataFrame({
        "row": np.repeat(np.arange(h), w),
        "col": np.tile(np.arange(w), h),
        "value": a.ravel(),
    }))
    out = (18, 10)  # rows up, cols down
    th, tw = out
    for order, kern in ((1, None), (3, "catmull")):
        kw = {"prefilter": False} if order == 3 else {}
        got = (RP.resize_grid(px, (h, w), out, order=order, **kw)
               .toPandas().set_index(["trow", "tcol"]).sort_index())
        assert len(got) == th * tw
        tr, tc = np.meshgrid(np.arange(th), np.arange(tw), indexing="ij")
        u = np.round((tr + 0.5) * (h / th) - 0.5, RP._Q)
        v = np.round((tc + 0.5) * (w / tw) - 0.5, RP._Q)
        r0 = np.floor(u).astype(np.int64); du = u - r0
        c0 = np.floor(v).astype(np.int64); dv = v - c0
        if kern is None:
            offs, wf = (0, 1), None
        else:
            offs, wf = NO._np_kernel_wfun(kern)
        num = np.zeros(out); den = np.zeros(out)
        for i in offs:
            for j in offs:
                rr, cc = r0 + i, c0 + j
                ok = (rr >= 0) & (rr < h) & (cc >= 0) & (cc < w)
                if kern is None:
                    wgt = (du if i else 1 - du) * (dv if j else 1 - dv)
                else:
                    wgt = wf(np.abs(i - du)) * wf(np.abs(j - dv))
                num[ok] += wgt[ok] * a[rr[ok], cc[ok]]
                den[ok] += wgt[ok]
        exp = np.full(out, np.nan)
        nz = (den > 0) if kern is None else (np.abs(den) >= 0.05)
        exp[nz] = num[nz] / den[nz]
        grid = got.value.to_numpy().reshape(out)
        both = ~(np.isnan(grid) & np.isnan(exp))
        np.testing.assert_allclose(grid[both], exp[both], atol=1e-6)
    nn = RP.resize_grid(px, (h, w), out, order=0).toPandas()
    assert len(nn) == th * tw and nn.value.notna().all()
    with pytest.raises(NotImplementedError):
        RP.resize_grid(px, (h, w), out, order=2)


def test_gamma_joincount_perm_mirror(spark):
    """gamma_joincount_permutation_test: the p=0 statistics equal
    global_autocorr's gamma/bb EXACTLY, and both n_ge match a numpy
    mirror of the seeded modular permutations."""
    h, w = 7, 8
    rng = np.random.RandomState(29)
    a = rng.randint(0, 60, size=(h, w)).astype(np.int64)
    pdf = pd.DataFrame({
        "row": np.repeat(np.arange(h), w),
        "col": np.tile(np.arange(w), h),
        "value": a.ravel(),
    })
    px = spark.createDataFrame(pdf)
    n = h * w
    n_perm, seed, thr = 19, 307, 30
    base = AC.global_autocorr(px, bin_threshold=thr).collect()[0]
    row = AC.gamma_joincount_permutation_test(
        px, bin_threshold=thr, n_perm=n_perm, seed=seed).collect()[0]
    assert row["gamma_obs"] == base["gamma"]
    assert row["bb_obs"] == base["bb"]
    vals = a.ravel()
    edges = []
    for r in range(h):
        for c in range(w):
            for dr, dc in AC.QUEEN:
                if 0 <= r + dr < h and 0 <= c + dc < w:
                    edges.append((r * w + c, (r + dr) * w + (c + dc)))

    def stats(perm):
        g = bb2 = 0
        for i, j in edges:
            va, vb = int(vals[perm[i]]), int(vals[perm[j]])
            g += va * vb
            bb2 += int(va >= thr and vb >= thr)
        return g, bb2

    ident = {k: k for k in range(n)}
    g0, bb0 = stats(ident)
    assert row["gamma_obs"] == g0 and row["bb_obs"] == bb0 // 2
    n_ge_g = n_ge_bb = 0
    for _, amul, badd in AC.permutation_params(n, n_perm, seed)[1:]:
        perm = {k: (k * amul + badd) % n for k in range(n)}
        g, bb2 = stats(perm)
        n_ge_g += int(g >= g0)
        n_ge_bb += int(bb2 >= bb0)
    assert row["gamma_n_ge"] == n_ge_g
    assert row["bb_n_ge"] == n_ge_bb
    assert row["gamma_p_sim"] == (n_ge_g + 1) / (n_perm + 1)
    assert row["bb_p_sim"] == (n_ge_bb + 1) / (n_perm + 1)
