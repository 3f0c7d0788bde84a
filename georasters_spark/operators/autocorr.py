"""Spatial autocorrelation over the pixel lattice (SURVEY §2.9).

Re-realizes the reference's esda/libpysal delegates
(georasters.py:1142-1378, raster_weights :1740-1775) over the 8 (queen)
/ 4 (rook) lattice neighbors of the valid-pixel table; masked cells
drop out exactly like raster_weights deletes masked nodes. Two forms:
  * per-cell neighbor sums (`focal_stats`, the base of every local
    statistic) are a masked 3×3 stencil through focal.focal_apply;
  * the global pair sums and the rank-space permutation tests need the
    pairs themselves: `neighbor_pairs` / `neighbor_pairs_keys`, a
    neighbor self-join on the offsets.

Two weight flavors:
  * binary (w_ij = 1) — used by the oracle-gated global statistics;
    every aggregate is an exact integer (128-bit where needed), so
    Spark and DuckDB agree bit-for-bit.
  * row-standardized (w_ij = 1/deg_i) — the reference default
    (transform='r', georasters.py:1758-1775); validated in pytest
    against a numpy reimplementation of the esda formulas.

Global statistics (binary weights, directed pair sums):
  Moran   I = (n/S0) * Σ_pairs N_i N_j / Σ_i N_i²,  N_i = n·v_i − S
  Geary   C = (n−1)·Σ_pairs (v_i−v_j)² · n² / (2·S0·Σ N_i²)
  Getis   G = Σ_pairs v_i v_j / (S² − Q);  Gamma = Σ_pairs v_i v_j
          (pysal_Gamma, cross-product similarity, georasters.py:1190-1209)
  Join counts (b_i = v_i ≥ threshold): BB/WW/BW undirected pair counts
where n=#valid, S=Σv, Q=Σv², S0=#directed neighbor pairs.  Every
exact plan takes n, S, Q (and max|v| for its overflow budgets) from one
`_moments` job, which refuses fractional values.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .focal import focal_apply, int_window

QUEEN = [(-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1)]
ROOK = [(-1, 0), (1, 0), (0, -1), (0, 1)]


def _offset_join(df: DataFrame, col: str, a_name: str, b_name: str,
                 rook: bool) -> DataFrame:
    """Directed lattice-neighbor pairs of df's cells via an 8/4-offset
    equi-join: (row, col, <a_name>, <b_name>, ...) with ``col`` of the
    home cell as a_name and of its neighbor as b_name."""
    offsets = df.sparkSession.createDataFrame(
        ROOK if rook else QUEEN, "dr int, dc int")
    a = df.select("row", "col", F.col(col).alias(a_name))
    b = df.select(
        F.col("row").alias("row2"), F.col("col").alias("col2"), F.col(col).alias(b_name)
    )
    return (
        a.crossJoin(F.broadcast(offsets))
        .withColumn("row2", F.col("row") + F.col("dr"))
        .withColumn("col2", F.col("col") + F.col("dc"))
        .join(b, ["row2", "col2"])
    )


def neighbor_pairs(px: DataFrame, rook: bool = False) -> DataFrame:
    """Directed neighbor pairs (row, col, va, vb) — the distributed
    lattice-weights generator."""
    return _offset_join(px, "value", "va", "vb", rook).select("row", "col", "va", "vb")


def _moments(px: DataFrame) -> tuple[int, int, int, int]:
    """(n, S = Σv, Q = Σv², max|v|) of the valid cells as exact
    integers, in one job.  The exact plans need whole-number values: a
    fractional (or non-finite) value raises instead of being silently
    truncated by the int64 neighbor sums."""
    v = F.col("value")
    lv = v.cast("long")
    row = px.agg(
        F.count(v).alias("n"),
        F.sum(lv).alias("s"),
        F.sum(lv * lv).alias("q"),
        F.max(F.abs(lv)).alias("vmax"),
        F.count(F.when(v != F.floor(v), 1)).alias("frac"),
    ).collect()[0]
    if row["frac"]:
        raise ValueError(
            f"autocorrelation needs integer-valued cells: {row['frac']} "
            "value(s) are fractional or non-finite, and the exact integer "
            "plans would silently truncate them; round/scale the raster first")
    return int(row["n"]), int(row["s"]), int(row["q"]), int(row["vmax"])


def _check_840_budget(n: int, vmax: int) -> None:
    """Refuse inputs whose 840-scaled decimal terms could overflow."""
    if n * vmax > 6 * 10**16:
        raise ValueError(
            f"n*max|value| = {n * vmax:.3g} exceeds the exact-integer "
            "budget (6e16) of the 840-scaled decimal plan; rescale values")


def _check_geary_budget(vmax: int) -> None:
    """Refuse inputs whose per-row Geary numerator could overflow int64."""
    if vmax > 4 * 10**8:
        raise ValueError(
            f"max|value| = {vmax:.3g} exceeds the per-row int64 budget of "
            "the Geary numerator (|c_num| <= 32·vmax² must fit a BIGINT)")


def global_autocorr(px: DataFrame, bin_threshold: int, rook: bool = False) -> DataFrame:
    """One-row DataFrame: n, s0, moran_i, geary_c, getis_g, bb, ww, bw.

    px: (row, col, value) valid cells, integer values. The distributed
    work is two plain int64 aggregates (whole-raster moments + directed
    pair sums); the statistics are then derived from those exact
    scalars via the algebra

        Σ (n·va−S)(n·vb−S) = n²·Σva·vb − n·S·(Σva+Σvb) + S0·S²
        Σ (v−mean)²·n²     = n²·Q − n·S²

    so no 128-bit row-wise math is needed anywhere, and the final
    double expressions are written op-for-op like the DuckDB oracle.
    """
    n, s, q, _ = _moments(px)
    pairs = neighbor_pairs(px, rook=rook)
    bi = (F.col("va") >= bin_threshold).cast("long")
    bj = (F.col("vb") >= bin_threshold).cast("long")
    p = pairs.agg(
        F.count(F.lit(1)).alias("s0"),
        F.sum(F.col("va") * F.col("vb")).alias("p_ab"),
        F.sum("va").alias("p_a"),
        F.sum("vb").alias("p_b"),
        F.sum((F.col("va") - F.col("vb")) * (F.col("va") - F.col("vb"))).alias("num_c"),
        F.sum(bi * bj).alias("bb2"),
        F.sum((1 - bi) * (1 - bj)).alias("ww2"),
        F.sum(F.abs(bi - bj)).alias("bw2"),
    ).collect()[0]
    s0 = int(p["s0"])
    num_i = n * n * int(p["p_ab"]) - n * s * (int(p["p_a"]) + int(p["p_b"])) + s0 * s * s
    den_i = n * n * q - n * s * s
    num_c, num_g = int(p["num_c"]), int(p["p_ab"])

    moran = (float(n) / float(s0)) * (float(num_i) / float(den_i))
    geary = (float(n - 1) * float(num_c) * n * n) / (2.0 * s0 * float(den_i))
    getis = float(num_g) / float(s * s - q)
    row = [
        (
            n,
            s0,
            moran,
            geary,
            getis,
            num_g,  # pysal_Gamma with the cross-product similarity
            int(p["bb2"]) // 2,
            int(p["ww2"]) // 2,
            int(p["bw2"]) // 2,
        )
    ]
    return px.sparkSession.createDataFrame(
        row,
        "n long, s0 long, moran_i double, geary_c double, getis_g double, "
        "gamma long, bb long, ww long, bw long",
    )


def global_autocorr_sql(px_cte: str, bin_threshold: int, rook: bool = False) -> str:
    """DuckDB oracle for global_autocorr over a pixel CTE named px."""
    offs = ROOK if rook else QUEEN
    offsets = ", ".join(f"({dr}, {dc})" for dr, dc in offs)
    return f"""WITH {px_cte},
offsets(dr, dc) AS (VALUES {offsets}),
scal AS (
  SELECT CAST(COUNT(value) AS BIGINT) AS n, CAST(SUM(value) AS BIGINT) AS s,
         CAST(SUM(value*value) AS BIGINT) AS q
  FROM px),
cand AS (
  SELECT a.row + o.dr AS r2, a.col + o.dc AS c2, a.value AS va
  FROM px a CROSS JOIN offsets o),
p AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS s0,
         CAST(SUM(cand.va * b.value) AS BIGINT) AS p_ab,
         CAST(SUM(cand.va) AS BIGINT) AS p_a,
         CAST(SUM(b.value) AS BIGINT) AS p_b,
         CAST(SUM((cand.va - b.value) * (cand.va - b.value)) AS BIGINT) AS num_c,
         CAST(SUM(CASE WHEN cand.va >= {bin_threshold} AND b.value >= {bin_threshold} THEN 1 ELSE 0 END) AS BIGINT) AS bb2,
         CAST(SUM(CASE WHEN cand.va < {bin_threshold} AND b.value < {bin_threshold} THEN 1 ELSE 0 END) AS BIGINT) AS ww2,
         CAST(SUM(CASE WHEN (cand.va >= {bin_threshold}) <> (b.value >= {bin_threshold}) THEN 1 ELSE 0 END) AS BIGINT) AS bw2
  FROM cand JOIN px b ON b.row = cand.r2 AND b.col = cand.c2),
calc AS (
  SELECT n, s, q, s0, p_ab, num_c, bb2, ww2, bw2,
         CAST(n AS HUGEINT)*n*p_ab - CAST(n AS HUGEINT)*s*(p_a + p_b) + CAST(s0 AS HUGEINT)*s*s AS num_i,
         CAST(n AS HUGEINT)*n*q - CAST(n AS HUGEINT)*s*s AS den_i
  FROM scal, p)
SELECT n, s0,
       (CAST(n AS DOUBLE) / CAST(s0 AS DOUBLE)) * (CAST(num_i AS DOUBLE) / CAST(den_i AS DOUBLE)) AS moran_i,
       (CAST(n - 1 AS DOUBLE) * CAST(num_c AS DOUBLE) * n * n) / (2.0 * s0 * CAST(den_i AS DOUBLE)) AS geary_c,
       CAST(p_ab AS DOUBLE) / CAST(s*s - q AS DOUBLE) AS getis_g,
       p_ab AS gamma,
       bb2 // 2 AS bb, ww2 // 2 AS ww, bw2 // 2 AS bw
FROM calc"""


def _window_mask(rook: bool, include_self: bool):
    """The queen/rook neighborhood (plus the center cell when
    include_self) as a (3, 3) boolean window mask."""
    mask = np.zeros((3, 3), dtype=bool)
    for dr, dc in ROOK if rook else QUEEN:
        mask[dr + 1, dc + 1] = True
    mask[1, 1] = include_self
    return mask


def focal_stats(px: DataFrame, rook: bool = False, include_self: bool = False) -> DataFrame:
    """Per-cell neighborhood aggregates (the focal/G*-local building
    block, georasters.py:1343-1378): (row, col, value, nsum, nsum2,
    ncnt) — exact integers, one row per valid cell (ncnt = 0 on an
    isolated one). A 3×3 stencil through focal.focal_apply."""
    mask = _window_mask(rook, include_self)

    def fn(swv, swm):
        v = int_window(swv, swm)
        nb = v * mask
        return {"value": v[:, :, 1, 1], "nsum": nb.sum(axis=(2, 3)),
                "nsum2": (nb * nb).sum(axis=(2, 3)),
                "ncnt": (swm & mask).sum(axis=(2, 3))}

    return focal_apply(
        px.select("row", "col", F.col("value").cast("long").alias("value")),
        fn, k=3,
        out_schema="row long, col long, value long, nsum long, nsum2 long, ncnt long",
    )


def local_geary(px: DataFrame, rook: bool = False) -> DataFrame:
    """Per-cell local Geary c_i with binary weights, integer-exact:
        c_num(i) = Σ_{j∈N(i)} (v_i − v_j)² = ncnt·v_i² − 2·v_i·nsum + nsum2
    computed from the focal sums (no second pair join)."""
    _moments(px)  # refuses fractional values
    foc = focal_stats(px, rook=rook, include_self=False)
    c_num = (
        F.col("ncnt") * F.col("value") * F.col("value")
        - 2 * F.col("value") * F.col("nsum")
        + F.col("nsum2")
    )
    return foc.select("row", "col", c_num.cast("long").alias("c_num"))


def local_geary_sql(px_cte: str, rook: bool = False) -> str:
    offs = ROOK if rook else QUEEN
    offsets = ", ".join(f"({dr}, {dc})" for dr, dc in offs)
    return f"""WITH {px_cte},
offsets(dr, dc) AS (VALUES {offsets}),
cand AS (SELECT a.row, a.col, a.row + o.dr AS r2, a.col + o.dc AS c2 FROM px a CROSS JOIN offsets o),
foc AS (SELECT cand.row, cand.col, CAST(SUM(b.value) AS BIGINT) AS nsum,
               CAST(SUM(b.value * b.value) AS BIGINT) AS nsum2,
               CAST(COUNT(*) AS BIGINT) AS ncnt
        FROM cand JOIN px b ON b.row = cand.r2 AND b.col = cand.c2 GROUP BY 1, 2)
SELECT px.row, px.col,
       CAST(COALESCE(foc.ncnt, 0) * px.value * px.value
            - 2 * px.value * COALESCE(foc.nsum, 0)
            + COALESCE(foc.nsum2, 0) AS BIGINT) AS c_num
FROM px LEFT JOIN foc ON foc.row = px.row AND foc.col = px.col"""


def local_moran(px: DataFrame, rook: bool = False) -> DataFrame:
    """Per-cell local Moran (LISA, georasters.py:1310-1341) with binary
    weights, integer-exact: with N_k = n·v_k − S,
        li_num(i) = N_i · Σ_{j∈N(i)} N_j
                  = (n·v_i − S) · (n·nsum_i − ncnt_i·S)
    computed entirely from the focal sums — no second pair join. The
    normalized double li = n·li_num / den_i is rounded to 6 dp.
    """
    n, s, q, _ = _moments(px)
    den_i = n * n * q - n * s * s
    foc = focal_stats(px, rook=rook, include_self=False)
    zi = F.col("value") * n - s            # sign(z_i), integer-exact
    lag = F.col("nsum") * n - F.col("ncnt") * s  # sign(Σ_j z_j)
    li_num = zi * lag
    quad = (
        F.when((zi > 0) & (lag > 0), "HH")
        .when((zi < 0) & (lag < 0), "LL")
        .when((zi > 0) & (lag < 0), "HL")
        .when((zi < 0) & (lag > 0), "LH")
        .otherwise("NS")
    )
    return foc.select(
        "row",
        "col",
        li_num.alias("li_num"),
        F.round(li_num.cast("double") * F.lit(float(n)) / F.lit(float(den_i)), 6).alias("li"),
        quad.alias("quadrant"),
    )


def local_moran_rowstd(px: DataFrame, rook: bool = False) -> DataFrame:
    """Per-cell local Moran under ROW-STANDARDIZED weights — the esda
    Moran_Local DEFAULT (transformation='r', georasters.py:1310-1341).
    With N_k = n·v_k − S and M_i = n·nsum_i − ncnt_i·S,

        Is_i = n·z_i·(Σ_j z_j / deg_i) / Σz² = N_i·M_i / (deg_i·den),
        den = n·Q − S²

    so the 840-scaled numerator N_i·M_i·(840 div deg_i) is an exact
    decimal integer (the same budget guards as global_autocorr_rowstd)
    and the double derives from it in one op chain.  Quadrant labels
    and conditional-permutation p_sim are weight-scale-invariant (the
    within-cell weights are uniform), so they are THE SAME as the
    binary plan's — only the Is value rescales.  Isolated cells
    (deg = 0) have no row-standardized lag and are filtered, like
    global_autocorr_rowstd.  Returns (row, col, li_num840, li,
    quadrant)."""
    n, s, q, vmax = _moments(px)
    _check_840_budget(n, vmax)
    den = n * q - s * s
    foc = focal_stats(px, rook=rook, include_self=False).filter(F.col("ncnt") > 0)
    wfac = F.expr(f"CAST({_LCM8} DIV ncnt AS DECIMAL(4,0))")
    N = (F.col("value") * n - s).cast("decimal(19,0)")
    M = (F.col("nsum") * n - F.col("ncnt") * s).cast("decimal(20,0)")
    num840 = N * M * wfac
    zi = F.col("value") * n - s
    lag = F.col("nsum") * n - F.col("ncnt") * s
    quad = (
        F.when((zi > 0) & (lag > 0), "HH")
        .when((zi < 0) & (lag < 0), "LL")
        .when((zi > 0) & (lag < 0), "HL")
        .when((zi < 0) & (lag > 0), "LH")
        .otherwise("NS")
    )
    return foc.select(
        "row",
        "col",
        # exact digits as a STRING: a decimal(38) column would be
        # float-coerced (and rounded) by the pandas-side compare
        num840.cast("string").alias("li_num840"),
        F.round(num840.cast("double") / (840.0 * float(den)), 6).alias("li"),
        quad.alias("quadrant"),
    )


def local_moran_rowstd_sql(px_cte: str, rook: bool = False) -> str:
    offs = ROOK if rook else QUEEN
    offsets = ", ".join(f"({dr}, {dc})" for dr, dc in offs)
    return f"""WITH {px_cte},
offsets(dr, dc) AS (VALUES {offsets}),
scal AS (SELECT CAST(COUNT(value) AS BIGINT) AS n, CAST(SUM(value) AS BIGINT) AS s,
                CAST(SUM(value*value) AS BIGINT) AS q FROM px),
cand AS (SELECT a.row, a.col, a.row + o.dr AS r2, a.col + o.dc AS c2 FROM px a CROSS JOIN offsets o),
foc AS (SELECT cand.row, cand.col, CAST(SUM(b.value) AS BIGINT) AS nsum, CAST(COUNT(*) AS BIGINT) AS ncnt
        FROM cand JOIN px b ON b.row = cand.r2 AND b.col = cand.c2 GROUP BY 1, 2),
base AS (SELECT px.row, px.col,
                CAST(px.value AS HUGEINT) * scal.n - scal.s AS zi,
                CAST(foc.nsum AS HUGEINT) * scal.n - foc.ncnt * scal.s AS lag,
                840 // foc.ncnt AS wfac,
                scal.n AS n, scal.s AS s, scal.q AS q
         FROM px JOIN foc ON foc.row = px.row AND foc.col = px.col, scal
         WHERE foc.ncnt > 0)
SELECT base.row, base.col,
       CAST(base.zi * base.lag * base.wfac AS VARCHAR) AS li_num840,
       ROUND(CAST(base.zi * base.lag * base.wfac AS DOUBLE)
             / (840.0 * CAST(CAST(base.n AS HUGEINT) * base.q - CAST(base.s AS HUGEINT) * base.s AS DOUBLE)), 6) AS li,
       CASE WHEN base.zi > 0 AND base.lag > 0 THEN 'HH'
            WHEN base.zi < 0 AND base.lag < 0 THEN 'LL'
            WHEN base.zi > 0 AND base.lag < 0 THEN 'HL'
            WHEN base.zi < 0 AND base.lag > 0 THEN 'LH'
            ELSE 'NS' END AS quadrant
FROM base"""


def local_moran_sql(px_cte: str, rook: bool = False) -> str:
    offs = ROOK if rook else QUEEN
    offsets = ", ".join(f"({dr}, {dc})" for dr, dc in offs)
    return f"""WITH {px_cte},
offsets(dr, dc) AS (VALUES {offsets}),
scal AS (SELECT CAST(COUNT(value) AS BIGINT) AS n, CAST(SUM(value) AS BIGINT) AS s,
                CAST(SUM(value*value) AS BIGINT) AS q FROM px),
cand AS (SELECT a.row, a.col, a.row + o.dr AS r2, a.col + o.dc AS c2 FROM px a CROSS JOIN offsets o),
foc AS (SELECT cand.row, cand.col, CAST(SUM(b.value) AS BIGINT) AS nsum, CAST(COUNT(*) AS BIGINT) AS ncnt
        FROM cand JOIN px b ON b.row = cand.r2 AND b.col = cand.c2 GROUP BY 1, 2),
base AS (SELECT px.row, px.col, px.value,
                COALESCE(foc.nsum, 0) AS nsum, COALESCE(foc.ncnt, 0) AS ncnt
         FROM px LEFT JOIN foc ON foc.row = px.row AND foc.col = px.col),
j AS (SELECT base.row, base.col,
             (base.value * scal.n - scal.s) AS zi,
             (base.nsum * scal.n - base.ncnt * scal.s) AS lag,
             (base.value * scal.n - scal.s) * (base.nsum * scal.n - base.ncnt * scal.s) AS li_num,
             scal.n AS n, CAST(scal.n AS HUGEINT)*scal.n*scal.q - CAST(scal.n AS HUGEINT)*scal.s*scal.s AS den_i
      FROM base, scal)
SELECT row, col, CAST(li_num AS BIGINT) AS li_num,
       ROUND(CAST(li_num AS DOUBLE) * CAST(n AS DOUBLE) / CAST(den_i AS DOUBLE), 6) AS li,
       CASE WHEN zi > 0 AND lag > 0 THEN 'HH'
            WHEN zi < 0 AND lag < 0 THEN 'LL'
            WHEN zi > 0 AND lag < 0 THEN 'HL'
            WHEN zi < 0 AND lag > 0 THEN 'LH'
            ELSE 'NS' END AS quadrant
FROM j"""


def _permutation_pair_frame(
    px, n: int, n_perm: int, seed: int, rook: bool, rowstd: bool = False
):
    """Shared scaffolding for the GLOBAL permutation tests (Moran,
    Geary, Gamma): given the valid-cell count n (from _moments), the
    seeded modular permutation params and the joined frame j with one
    row per (permutation p, neighbor pair) carrying the permuted
    endpoint values (p, va, vb).  With rowstd=True, j also carries the home
    cell's permutation-INVARIANT row-standardized weight numerator
    w840 = 840 div deg(i) (weights attach to the fixed graph; values
    permute over it — esda's conditional permutation); the deg window
    costs one extra exchange on the pair frame, so the binary path
    skips it.  Ranks come from the two-phase distributed enumeration
    (no global window); any fix to the modular-permutation join lands
    here ONCE for every consumer."""
    from pyspark.sql import Window as W

    from .algebra import c_order_index

    spark = px.sparkSession
    perms = permutation_params(n, n_perm, seed)  # [(p, a_mul, b_add)], p=0 identity

    ranked = c_order_index(px).withColumnRenamed("i", "k").join(
        px.select("row", "col", "value"), ["row", "col"])
    pairs_rk = neighbor_pairs_keys(ranked, rook=rook).select("ka", "kb")
    # deg(i) over the observed graph — a partition-local window on the
    # ka hash partitioning (no second shuffle vs a groupBy+join)
    if rowstd:
        pairs_rk = pairs_rk.withColumn(
            "deg", F.count(F.lit(1)).over(W.partitionBy("ka"))
        ).withColumn(
            "w840", F.expr(f"CAST({_LCM8} AS BIGINT) DIV deg")
        ).drop("deg")
    vals = ranked.select("k", F.col("value").cast("long").alias("v"))

    perm_df = spark.createDataFrame(perms, "p int, amul long, badd long")
    pp = pairs_rk.crossJoin(F.broadcast(perm_df)).select(
        "p",
        *(["w840"] if rowstd else []),
        ((F.col("ka") * F.col("amul") + F.col("badd")) % n).alias("pka"),
        ((F.col("kb") * F.col("amul") + F.col("badd")) % n).alias("pkb"),
    )
    j = (
        pp.join(vals.withColumnRenamed("k", "pka").withColumnRenamed("v", "va"), "pka")
        .join(vals.withColumnRenamed("k", "pkb").withColumnRenamed("v", "vb"), "pkb")
    )
    return spark, j


def moran_permutation_test(
    px: DataFrame, n_perm: int = 19, seed: int = 97, rook: bool = False,
    transform: str = "b",
) -> DataFrame:
    """Seeded conditional-permutation test for Moran's I
    (georasters.py:1231-1269: esda permutations re-run with a seeded
    rng). Deterministic across engines: permutation p is the modular
    map rank → (A_p·rank + B_p) mod n (A_p coprime with n), and since
    n, S, S0/nw, den are permutation-invariant, I_perm >= I_obs reduces
    to an EXACT integer comparison of pair-product sums.

    transform='b': binary weights. transform='r': row-standardized
    weights (the esda default) — the per-pair weight 840/deg(i)
    attaches to the FIXED graph while values permute, so the 840-scaled
    sums A840_p = Σ w840·(n·va−S)(n·vb−S) stay exact integers
    (decimal(38) aggregate, same budget guards as
    global_autocorr_rowstd).

    Returns one row: (i_obs double, n_perm, n_ge, p_sim) where
    p_sim = (n_ge + 1) / (n_perm + 1), n_ge = #{perm: num_perm >= num_obs}.
    """
    rowstd = transform.lower().startswith("r")
    n, s, q, vmax = _moments(px)
    if rowstd:
        _check_840_budget(n, vmax)
    spark, j = _permutation_pair_frame(px, n, n_perm, seed, rook, rowstd=rowstd)
    den_i = n * n * q - n * s * s
    if rowstd:
        term = (
            F.col("w840").cast("decimal(4,0)")
            * (F.col("va") * n - s).cast("decimal(19,0)")
            * (F.col("vb") * n - s).cast("decimal(19,0)")
        )
        agg = (
            j.groupBy("p")
            .agg(F.sum(term).alias("a840"),
                 F.count_distinct(F.col("pka")).alias("nw"))
            .collect()
        )
        nums = {int(r["p"]): int(r["a840"]) for r in agg}
        nw = int(agg[0]["nw"])  # graph-invariant
        num_obs = nums[0]
        # den_i = n²Q − nS² = n·(nQ − S²) — exactly global_autocorr_rowstd's
        # n·den, so the float derivation matches it op-for-op
        i_obs = (n / nw) * ((float(num_obs) / 840.0) / float(den_i))
        n_ge = sum(1 for p in range(1, n_perm + 1) if nums[p] >= num_obs)
        row = [(i_obs, n_perm, n_ge, float(n_ge + 1) / float(n_perm + 1))]
        return spark.createDataFrame(
            row, "i_obs double, n_perm long, n_ge long, p_sim double")
    agg = (
        j.groupBy("p")
        .agg(
            F.sum(F.col("va") * F.col("vb")).alias("p_ab"),
            F.sum("va").alias("p_a"),
            F.sum("vb").alias("p_b"),
            F.count(F.lit(1)).alias("s0"),
        )
        .collect()
    )
    nums = {}
    s0 = None
    for r in agg:
        s0 = int(r["s0"])  # identical for every permutation (same graph)
        nums[int(r["p"])] = (
            n * n * int(r["p_ab"]) - n * s * (int(r["p_a"]) + int(r["p_b"])) + s0 * s * s
        )
    num_obs = nums[0]
    i_obs = (float(n) / float(s0)) * (float(num_obs) / float(den_i))
    n_ge = sum(1 for p in range(1, n_perm + 1) if nums[p] >= num_obs)
    row = [(i_obs, n_perm, n_ge, float(n_ge + 1) / float(n_perm + 1))]
    return spark.createDataFrame(row, "i_obs double, n_perm long, n_ge long, p_sim double")


def geary_permutation_test(
    px: DataFrame, n_perm: int = 19, seed: int = 97, rook: bool = False,
    transform: str = "b",
) -> DataFrame:
    """Seeded permutation test for Geary's C (reference pysal_Geary
    passes permutations= to esda.Geary, georasters.py:1271-1308).
    Same modular-permutation machinery as moran_permutation_test; the
    Geary numerator Σ_pairs (va − vb)² = Σva² + Σvb² − 2·Σva·vb, and
    since n, S, S0 and the variance denominator are permutation-
    invariant, C_perm >= C_obs reduces to an EXACT integer comparison
    of the pair square-difference sums (high C = dispersion, so >=
    counts the dispersion tail — the same convention as esda's
    sim >= C before its fold; n_ge is reported unfolded, matching
    moran_permutation_test).

    transform='r' (the esda default) uses the row-standardized weights
    via the same fixed-graph w840 = 840/deg(i) pair weight as
    moran_permutation_test's 'r' branch: C840_p = Σ w840·(va−vb)² is an
    exact integer (decimal aggregate), c_obs derived exactly like
    global_autocorr_rowstd's C_r.

    Returns one row: (c_obs double, n_perm, n_ge, p_sim) with
    p_sim = (n_ge + 1) / (n_perm + 1)."""
    rowstd = transform.lower().startswith("r")
    n, s, q, vmax = _moments(px)
    if rowstd:
        _check_geary_budget(vmax)
    spark, j = _permutation_pair_frame(px, n, n_perm, seed, rook, rowstd=rowstd)
    den = n * q - s * s  # n · Σ(v − mean)²
    if rowstd:
        d = F.col("va") - F.col("vb")
        agg = (
            j.groupBy("p")
            .agg(F.sum(F.col("w840").cast("decimal(4,0)")
                       * (d * d).cast("decimal(25,0)")).alias("c840"),
                 F.count_distinct(F.col("pka")).alias("nw"))
            .collect()
        )
        nums = {int(r["p"]): int(r["c840"]) for r in agg}
        nw = int(agg[0]["nw"])
        num_obs = nums[0]
        c_obs = ((n - 1) / (2.0 * nw)) * ((float(num_obs) / 840.0) / (float(den) / n))
        n_ge = sum(1 for p in range(1, n_perm + 1) if nums[p] >= num_obs)
        row = [(c_obs, n_perm, n_ge, float(n_ge + 1) / float(n_perm + 1))]
        return spark.createDataFrame(
            row, "c_obs double, n_perm long, n_ge long, p_sim double")
    agg = (
        j.groupBy("p")
        .agg(
            F.sum((F.col("va") - F.col("vb")) * (F.col("va") - F.col("vb"))).alias("p_d2"),
            F.count(F.lit(1)).alias("s0"),
        )
        .collect()
    )
    nums = {}
    s0 = None
    for r in agg:
        s0 = int(r["s0"])
        nums[int(r["p"])] = int(r["p_d2"])
    num_obs = nums[0]
    # C = (n−1)·Σw(vi−vj)² / (2·S0·Σ(v−mean)²), with Σ(v−mean)² = den/n
    c_obs = (float(n - 1) * float(num_obs) * float(n)) / (2.0 * float(s0) * float(den))
    n_ge = sum(1 for p in range(1, n_perm + 1) if nums[p] >= num_obs)
    row = [(c_obs, n_perm, n_ge, float(n_ge + 1) / float(n_perm + 1))]
    return spark.createDataFrame(row, "c_obs double, n_perm long, n_ge long, p_sim double")


def gamma_joincount_permutation_test(
    px: DataFrame, bin_threshold: int, n_perm: int = 19, seed: int = 97,
    rook: bool = False,
) -> DataFrame:
    """Seeded permutation tests for Gamma AND the BB join count in ONE
    pair-frame pass (the reference's pysal_Gamma / pysal_Join_Counts
    construct esda.Gamma / esda.Join_Counts, georasters.py:1190-1229,
    whose DEFAULT permutations=999 runs exactly these tests; re-run
    here under the engine's seeded modular permutations like
    moran_permutation_test).

    Both statistics are plain pair sums over the fixed graph, so both
    reduce to EXACT integer comparisons per permutation:
      gamma = Σ_directed va·vb          (esda Gamma's default
                                         cross-product similarity —
                                         the same quantity
                                         global_autocorr reports)
      bb2   = Σ_directed [va>=t][vb>=t] (= 2·BB; the /2 is constant,
                                         so the >= compare is shared)
    n_ge counts the upper tail (esda's p_sim_g / p_sim for BB).

    Returns one row: (gamma_obs, gamma_n_ge, gamma_p_sim, bb_obs,
    bb_n_ge, bb_p_sim, n_perm)."""
    spark, j = _permutation_pair_frame(px, _moments(px)[0], n_perm, seed, rook)
    bi = (F.col("va") >= bin_threshold).cast("long")
    bj = (F.col("vb") >= bin_threshold).cast("long")
    agg = (
        j.groupBy("p")
        .agg(F.sum(F.col("va") * F.col("vb")).alias("g"),
             F.sum(bi * bj).alias("bb2"))
        .collect()
    )
    gs = {int(r["p"]): int(r["g"]) for r in agg}
    bbs = {int(r["p"]): int(r["bb2"]) for r in agg}
    g_obs, bb2_obs = gs[0], bbs[0]
    g_ge = sum(1 for p in range(1, n_perm + 1) if gs[p] >= g_obs)
    bb_ge = sum(1 for p in range(1, n_perm + 1) if bbs[p] >= bb2_obs)
    row = [(g_obs, g_ge, float(g_ge + 1) / float(n_perm + 1),
            bb2_obs // 2, bb_ge, float(bb_ge + 1) / float(n_perm + 1),
            n_perm)]
    return spark.createDataFrame(
        row, "gamma_obs long, gamma_n_ge long, gamma_p_sim double, "
             "bb_obs long, bb_n_ge long, bb_p_sim double, n_perm long")


def permutation_params(n: int, n_perm: int, seed: int) -> list[tuple[int, int, int]]:
    """Deterministic modular permutations of Z_n: rank -> (a·rank+b) % n
    with gcd(a, n) = 1. p = 0 is the identity (observed ordering)."""
    out = [(0, 1, 0)]
    if n <= 2:  # no non-identity multiplier exists mod n; degenerate
        return out + [(p, 1, 0) for p in range(1, n_perm + 1)]
    a_mul = 1
    for p in range(1, n_perm + 1):
        a_mul = (a_mul * 48271 + seed) % n
        while math_gcd(a_mul, n) != 1 or a_mul <= 1:
            a_mul = (a_mul + 1) % n
        out.append((p, a_mul, (seed * p) % n))
    return out


def math_gcd(a: int, b: int) -> int:
    while b:
        a, b = b, a % b
    return a


def neighbor_pairs_keys(ranked: DataFrame, rook: bool = False) -> DataFrame:
    """Neighbor pairs in rank space: (ka, kb) for the fixed lattice."""
    return _offset_join(ranked, "k", "ka", "kb", rook).select("ka", "kb")


_LCM8 = 840  # lcm(1..8): exact rational 1/deg weights as integers


def global_autocorr_rowstd(px: DataFrame, rook: bool = False) -> DataFrame:
    """Row-standardized global Moran's I and Geary's C — the reference
    DEFAULT weights (transform='r', georasters.py:1758-1775) as an
    exact-integer plan: w_ij = 1/deg_i are rationals with denominators
    in {1..8} on the masked lattice, so numerators scale by
    840 = lcm(1..8) into exact integer aggregates:

        A840 = Σ_i N_i·M_i·(840/deg_i)   (decimal(38) — N·M·840 ~ 1e20)
        C840 = Σ_i c_num_i·(840/deg_i)   (int64)
      with N_i = n·v_i − S, M_i = n·nsum_i − deg_i·S,
           c_num_i = deg_i·v_i² − 2·v_i·nsum_i + nsum2_i

        I_r = (n/nw)·((A840/840)/(n·den)),  den = n·Q − S²
        C_r = ((n−1)/(2·nw))·((C840/840)/(den/n))

    nw = #cells with ≥1 neighbor (S0 of row-standardized weights).
    Doubles are produced from the exact integers with the same
    operation order as the SQL oracle — bit-identical, shipped
    unrounded. Returns one row (n, nw, moran_r, geary_r)."""
    n, s, q, vmax = _moments(px)
    # decimal(19/20) widths hold |N| <= 2·n·vmax and |M| <= 16·n·vmax,
    # and the per-row product |N·M·840| <= 26880·(n·vmax)² must fit the
    # 38-digit product cap: with ANSI off an overflowing cast/multiply
    # silently NULLs the term and F.sum DROPS it (wrong Moran/Geary, not
    # an error) — refuse instead. n·vmax <= 6e16 keeps every per-row
    # term exact (10^12 cells of 16-bit data passes with room). The
    # final SUM can still overflow decimal(38) on adversarial inputs,
    # but sum-overflow NULLs the whole aggregate -> int(None) raises —
    # a crash, never a silently wrong value.
    _check_840_budget(n, vmax)
    _check_geary_budget(vmax)
    foc = focal_stats(px, rook=rook, include_self=False).filter(F.col("ncnt") > 0)
    wfac = F.expr(f"CAST({_LCM8} DIV ncnt AS DECIMAL(4,0))")
    N = (F.col("value") * n - s).cast("decimal(19,0)")
    M = (F.col("nsum") * n - F.col("ncnt") * s).cast("decimal(20,0)")
    c_num = (
        F.col("ncnt") * F.col("value") * F.col("value")
        - 2 * F.col("value") * F.col("nsum")
        + F.col("nsum2")
    )
    # c840 accumulates in decimal: the per-row term fits int64 (guard
    # above), but Σ over 10^10+ cells exceeds it, and a long SUM would
    # WRAP silently with ANSI off — the same wrong-not-error failure
    # mode as the decimal casts
    row = foc.agg(
        F.sum(N * M * wfac).alias("a840"),
        F.sum(c_num.cast("decimal(25,0)") * F.expr(f"{_LCM8} DIV ncnt")).alias("c840"),
        F.count(F.lit(1)).alias("nw"),
    ).collect()[0]
    a840, c840, nw = int(row["a840"]), int(row["c840"]), int(row["nw"])
    den = n * q - s * s
    # float(...) first, THEN divide: mirrors SQL CAST(x AS DOUBLE)/y —
    # Python's int/float true division would round only once and can
    # differ in the last ulp
    i_r = (n / nw) * ((float(a840) / 840.0) / float(n * den))
    c_r = ((n - 1) / (2.0 * nw)) * ((float(c840) / 840.0) / (float(den) / n))
    return px.sparkSession.createDataFrame(
        [(n, nw, i_r, c_r)], "n long, nw long, moran_r double, geary_r double"
    )


def global_autocorr_rowstd_sql(px_cte: str, rook: bool = False) -> str:
    offs = ROOK if rook else QUEEN
    offsets = ", ".join(f"({dr}, {dc})" for dr, dc in offs)
    return f"""WITH {px_cte},
offsets(dr, dc) AS (VALUES {offsets}),
scal AS (SELECT CAST(COUNT(value) AS BIGINT) AS n, CAST(SUM(value) AS BIGINT) AS s,
                CAST(SUM(value*value) AS BIGINT) AS q FROM px),
cand AS (SELECT a.row, a.col, a.row + o.dr AS r2, a.col + o.dc AS c2 FROM px a CROSS JOIN offsets o),
foc AS (SELECT cand.row, cand.col, CAST(SUM(b.value) AS BIGINT) AS nsum,
               CAST(SUM(b.value*b.value) AS BIGINT) AS nsum2,
               CAST(COUNT(*) AS BIGINT) AS ncnt
        FROM cand JOIN px b ON b.row = cand.r2 AND b.col = cand.c2 GROUP BY 1, 2),
terms AS (
  SELECT CAST(px.value * scal.n - scal.s AS HUGEINT)
           * CAST(foc.nsum * scal.n - foc.ncnt * scal.s AS HUGEINT)
           * ({_LCM8} // foc.ncnt) AS ta,
         (foc.ncnt * px.value * px.value - 2 * px.value * foc.nsum + foc.nsum2)
           * ({_LCM8} // foc.ncnt) AS tc
  FROM px JOIN foc ON foc.row = px.row AND foc.col = px.col, scal),
agg AS (SELECT SUM(ta) AS a840, CAST(SUM(tc) AS BIGINT) AS c840,
               CAST(COUNT(*) AS BIGINT) AS nw FROM terms),
calc AS (SELECT scal.n, scal.s, scal.q, agg.a840, agg.c840, agg.nw,
                CAST(scal.n AS HUGEINT)*scal.q - CAST(scal.s AS HUGEINT)*scal.s AS den
         FROM scal, agg)
SELECT n, nw,
       (CAST(n AS DOUBLE) / nw) * ((CAST(a840 AS DOUBLE) / 840.0) / CAST(CAST(n AS HUGEINT) * den AS DOUBLE)) AS moran_r,
       (CAST(n - 1 AS DOUBLE) / (2.0 * nw)) * ((CAST(c840 AS DOUBLE) / 840.0) / (CAST(den AS DOUBLE) / n)) AS geary_r
FROM calc"""


def gstar_local(px: DataFrame, rook: bool = False) -> DataFrame:
    """Normalized Getis-Ord G*_i hotspot statistic per cell
    (georasters.py:1343-1378, G_Local star): binary weights INCLUDING
    self, the classic Ord & Getis (1995) z-form

        z_i = (Σ_j w_ij v_j − x̄·w_i) / (S_h·sqrt((n·w_i − w_i²)/(n−1)))

    with w_i = #neighbors incl self, x̄/S_h the global moments. All
    inputs are exact integers; the double expression is written
    op-for-op like the SQL oracle and shipped unrounded (bit-identical).
    Returns (row, col, gnum, wi, z_gstar) — gnum = exact focal sum."""
    import math

    n, s, q, _ = _moments(px)
    mean = float(s) / n
    s_h = math.sqrt((float(q) / n) - mean * mean)
    foc = focal_stats(px, rook=rook, include_self=True)
    u = F.col("nsum") - F.lit(mean) * F.col("ncnt")
    rad = F.sqrt((F.col("ncnt") * n - F.col("ncnt") * F.col("ncnt")) / F.lit(n - 1.0))
    return foc.select(
        "row", "col",
        F.col("nsum").alias("gnum"),
        F.col("ncnt").alias("wi"),
        (u / (F.lit(s_h) * rad)).alias("z_gstar"),
    )


def gstar_local_sql(px_cte: str, rook: bool = False) -> str:
    offs = ROOK if rook else QUEEN
    offsets = ", ".join(f"({dr}, {dc})" for dr, dc in offs)
    # mean/S_h are single-rounded doubles computed from the same exact
    # integers in the same op order as the Python scalars in gstar_local
    m = "(CAST(scal.s AS DOUBLE) / scal.n)"
    sh = f"sqrt(CAST(scal.q AS DOUBLE) / scal.n - {m} * {m})"
    return f"""WITH {px_cte},
offsets(dr, dc) AS (VALUES {offsets}),
scal AS (SELECT CAST(COUNT(value) AS BIGINT) AS n, CAST(SUM(value) AS BIGINT) AS s,
                CAST(SUM(value*value) AS BIGINT) AS q FROM px),
cand AS (SELECT a.row, a.col, a.row + o.dr AS r2, a.col + o.dc AS c2 FROM px a CROSS JOIN offsets o),
foc AS (SELECT cand.row, cand.col, CAST(SUM(b.value) AS BIGINT) AS nsum_, CAST(COUNT(*) AS BIGINT) AS ncnt_
        FROM cand JOIN px b ON b.row = cand.r2 AND b.col = cand.c2 GROUP BY 1, 2),
base AS (SELECT px.row, px.col,
                CAST(COALESCE(foc.nsum_, 0) + px.value AS BIGINT) AS gnum,
                CAST(COALESCE(foc.ncnt_, 0) + 1 AS BIGINT) AS wi
         FROM px LEFT JOIN foc ON foc.row = px.row AND foc.col = px.col)
SELECT base.row, base.col, base.gnum, base.wi,
       (base.gnum - {m} * base.wi)
         / ({sh} * sqrt((base.wi * scal.n - base.wi * base.wi) / (scal.n - 1.0))) AS z_gstar
FROM base, scal"""


def g_local(px: DataFrame, rook: bool = False) -> DataFrame:
    """Plain Getis-Ord G_i per cell — esda G_Local's DEFAULT star=False
    (georasters.py:1343-1378): binary weights EXCLUDING self, with the
    Ord & Getis (1995) leave-one-out z-form

        z_i = (Σ_j≠i w_ij v_j − x̄₍ᵢ₎·W_i)
              / (s₍ᵢ₎ · sqrt(((n−1)·W_i − W_i²) / (n−2)))

    where x̄₍ᵢ₎ = (S − v_i)/(n−1) and s₍ᵢ₎² = (Q − v_i²)/(n−1) − x̄₍ᵢ₎²
    are the global moments with observation i removed (S₁ᵢ = W_i for
    binary weights).  All inputs are exact integers; the double
    expression is written op-for-op like the SQL oracle.  Isolated
    cells (W_i = 0) have no G_i and are filtered, like the rowstd
    plan.  Returns (row, col, gnum, wi, z_g)."""
    n, s, q, _ = _moments(px)
    if n < 3:
        raise ValueError("g_local needs n >= 3 (n-2 in the variance)")
    foc = focal_stats(px, rook=rook, include_self=False).filter(F.col("ncnt") > 0)
    xbar_i = (F.lit(float(s)) - F.col("value")) / F.lit(n - 1.0)
    s2_i = (F.lit(float(q)) - F.col("value") * F.col("value")) / F.lit(n - 1.0) - xbar_i * xbar_i
    u = F.col("nsum") - xbar_i * F.col("ncnt")
    rad = F.sqrt((F.col("ncnt") * (n - 1) - F.col("ncnt") * F.col("ncnt")) / F.lit(n - 2.0))
    return foc.select(
        "row", "col",
        F.col("nsum").alias("gnum"),
        F.col("ncnt").alias("wi"),
        (u / (F.sqrt(s2_i) * rad)).alias("z_g"),
    )


def g_local_sql(px_cte: str, rook: bool = False) -> str:
    offs = ROOK if rook else QUEEN
    offsets = ", ".join(f"({dr}, {dc})" for dr, dc in offs)
    xb = "((CAST(scal.s AS DOUBLE) - base.value) / (scal.n - 1.0))"
    s2 = f"((CAST(scal.q AS DOUBLE) - CAST(base.value AS DOUBLE) * base.value) / (scal.n - 1.0) - {xb} * {xb})"
    return f"""WITH {px_cte},
offsets(dr, dc) AS (VALUES {offsets}),
scal AS (SELECT CAST(COUNT(value) AS BIGINT) AS n, CAST(SUM(value) AS BIGINT) AS s,
                CAST(SUM(value*value) AS BIGINT) AS q FROM px),
cand AS (SELECT a.row, a.col, a.row + o.dr AS r2, a.col + o.dc AS c2 FROM px a CROSS JOIN offsets o),
foc AS (SELECT cand.row, cand.col, CAST(SUM(b.value) AS BIGINT) AS nsum_, CAST(COUNT(*) AS BIGINT) AS ncnt_
        FROM cand JOIN px b ON b.row = cand.r2 AND b.col = cand.c2 GROUP BY 1, 2),
base AS (SELECT px.row, px.col, px.value,
                CAST(foc.nsum_ AS BIGINT) AS gnum, CAST(foc.ncnt_ AS BIGINT) AS wi
         FROM px JOIN foc ON foc.row = px.row AND foc.col = px.col
         WHERE foc.ncnt_ > 0)
SELECT base.row, base.col, base.gnum, base.wi,
       (base.gnum - {xb} * base.wi)
         / (sqrt({s2}) * sqrt((base.wi * (scal.n - 1) - base.wi * base.wi) / (scal.n - 2.0))) AS z_g
FROM base, scal"""


def local_permutation_test(
    px: DataFrame,
    n_perm: int = 19,
    seed: int = 211,
    rook: bool = False,
    stat: str = "moran",
) -> DataFrame:
    """Per-cell CONDITIONAL permutation p-values for LISA / G*-local
    (reference georasters.py:1310-1341, 1343-1378: esda Moran_Local /
    G_Local accept permutations= and return per-cell p_sim — the
    standard LISA significance filter).

    esda holds v_i fixed and redraws i's neighborhood from the other
    cells; this engine's draws are seeded modular affine probes (the
    deterministic cross-engine-exact analog of the global test's
    permutations): for cell at rank k, permutation p samples ranks
        m_t = (a_p·(k + t) + b_p) mod n,  t = 1..ncnt_i
    (affine in t and a_p coprime with n ⇒ all distinct); if some m_t
    hits k itself, that draw is remapped to the t = ncnt_i + 1 probe
    (still distinct, provably != k). All comparisons are exact
    integers: with N = n·v − S invariant under value permutation,
        moran: li_perm >= li_obs  ⇔  sign(zi)·(lag_perm − lag_obs) >= 0
               (compared BY SIGN of zi — the zi·lag products would
               silently wrap int64 at ~10^7 cells × 10^3 values; the
               factored compare stays within 8·n·v_max ≈ 10^14)
        gstar: num_perm >= num_obs ⇔  Σvb >= nsum_obs   (v_i fixed)
    Two-sided fold follows esda: larger = min(n_ge, n_perm − n_ge),
    p_sim = (larger + 1) / (n_perm + 1). Cells with zero valid
    neighbors have no draws: they ARE emitted, with n_ge = 0 and
    p_sim NULL (no estimate). Output: (row, col, zi, lag_obs,
    nsum_obs, n_ge, p_sim) — all overflow-safe exact integers plus
    the folded p; the normalized LISA itself comes from local_moran.

    Scale: n_cells × n_perm × ≤9 candidate rows, one equi-join on the
    sampled rank and two grouped aggregates — NO global window (ranks
    come from algebra.c_order_index's two-phase distributed
    enumeration), no collect beyond the scalar moments and the
    O(#partitions) offset rows.
    """
    from .algebra import c_order_index

    if stat not in ("moran", "gstar"):
        raise ValueError(f"unknown local stat {stat!r}")
    spark = px.sparkSession
    n, s, _, _ = _moments(px)
    perms = permutation_params(n, n_perm, seed)[1:]  # skip the identity

    ranked = c_order_index(px).withColumnRenamed("i", "k").join(
        px.select("row", "col", "value"), ["row", "col"])
    foc = focal_stats(px, rook=rook, include_self=False)
    base = foc.join(ranked.select("row", "col", "k"), ["row", "col"]).select(
        "row", "col", "k", "ncnt",
        (F.col("value") * n - s).alias("zi"),
        (F.col("nsum") * n - F.col("ncnt") * s).alias("lag_obs"),
        F.col("nsum").alias("nsum_obs"),
    )
    perm_df = spark.createDataFrame(perms, "p int, amul long, badd long")
    ts = spark.createDataFrame([(t,) for t in range(1, 9)], "t int")
    cand = (
        base.crossJoin(F.broadcast(perm_df))
        .crossJoin(F.broadcast(ts))
        .filter(F.col("t") <= F.col("ncnt"))
    )
    m0 = (F.col("amul") * (F.col("k") + F.col("t")) + F.col("badd")) % n
    m_alt = (F.col("amul") * (F.col("k") + F.col("ncnt") + 1) + F.col("badd")) % n
    cand = cand.select(
        "row", "col", "p", "k", "ncnt", "zi", "lag_obs", "nsum_obs",
        F.when(m0 == F.col("k"), m_alt).otherwise(m0).alias("m"),
    )
    vals = ranked.select(F.col("k").alias("m"), F.col("value").alias("vb"))
    j = cand.join(vals, "m")
    per = j.groupBy("row", "col", "p").agg(
        F.first("zi").alias("zi"), F.first("lag_obs").alias("lag_obs"),
        F.first("nsum_obs").alias("nsum_obs"), F.first("ncnt").alias("ncnt"),
        F.sum("vb").alias("sumvb"),
    )
    lag_perm = F.col("sumvb") * n - F.col("ncnt") * s
    if stat == "moran":
        # factored by sign(zi): equivalent to li_perm >= li_obs but
        # never forms the zi·lag product (int64-overflow-safe at any
        # grid scale)
        ge = (
            F.when(F.col("zi") > 0, lag_perm >= F.col("lag_obs"))
            .when(F.col("zi") < 0, lag_perm <= F.col("lag_obs"))
            .otherwise(F.lit(True))
        )
    else:
        ge = F.col("sumvb") >= F.col("nsum_obs")
    cell = per.groupBy("row", "col").agg(
        F.sum(ge.cast("long")).alias("n_ge"),
    )
    folded = F.when(F.lit(n_perm) - F.col("n_ge") < F.col("n_ge"),
                    F.lit(n_perm) - F.col("n_ge")).otherwise(F.col("n_ge"))
    # left join back onto base: isolated cells (ncnt = 0, no draws)
    # keep a row with n_ge = 0 and NULL p_sim
    out = base.select("row", "col", "zi", "lag_obs", "nsum_obs").join(
        cell.select(
            "row", "col",
            F.col("n_ge").cast("long").alias("n_ge"),
            F.round((folded + F.lit(1.0))
                    / F.lit(float(n_perm + 1)), 6).alias("p_sim"),
        ),
        ["row", "col"], "left",
    )
    return out.select(
        "row", "col",
        F.col("zi").cast("long").alias("zi"),
        F.col("lag_obs").cast("long").alias("lag_obs"),
        F.col("nsum_obs").cast("long").alias("nsum_obs"),
        F.coalesce(F.col("n_ge"), F.lit(0)).cast("long").alias("n_ge"),
        "p_sim",
    )


def local_permutation_sql(px_cte: str, n: int, n_perm: int = 19,
                          seed: int = 211, rook: bool = False,
                          stat: str = "moran") -> str:
    """DuckDB oracle for local_permutation_test: identical modular
    probes, identical integer comparisons (n must equal the valid-cell
    count of px so the permutation params match the engine's)."""
    offs = ROOK if rook else QUEEN
    offsets = ", ".join(f"({dr}, {dc})" for dr, dc in offs)
    perms = permutation_params(n, n_perm, seed)[1:]
    pvals = ", ".join(f"({p}, {a}, {b})" for p, a, b in perms)
    tvals = ", ".join(f"({t})" for t in range(1, 9))
    if stat == "moran":
        # factored by sign(zi) — the same overflow-safe compare as the
        # engine (never forms the zi·lag product)
        ge = ("CASE WHEN per.zi > 0 THEN (CASE WHEN per.sumvb * per.n - per.ncnt * per.s >= per.lag_obs THEN 1 ELSE 0 END) "
              "WHEN per.zi < 0 THEN (CASE WHEN per.sumvb * per.n - per.ncnt * per.s <= per.lag_obs THEN 1 ELSE 0 END) "
              "ELSE 1 END")
    elif stat == "gstar":
        ge = "CASE WHEN per.sumvb >= per.nsum_obs THEN 1 ELSE 0 END"
    else:
        raise ValueError(f"unknown local stat {stat!r}")
    return f"""WITH {px_cte},
offsets(dr, dc) AS (VALUES {offsets}),
perms(p, amul, badd) AS (VALUES {pvals}),
ts(t) AS (VALUES {tvals}),
scal AS (SELECT CAST(COUNT(value) AS BIGINT) AS n, CAST(SUM(value) AS BIGINT) AS s FROM px),
ranked AS (SELECT row, col, value, ROW_NUMBER() OVER (ORDER BY row, col) - 1 AS k FROM px),
candn AS (SELECT a.row, a.col, a.row + o.dr AS r2, a.col + o.dc AS c2 FROM px a CROSS JOIN offsets o),
foc AS (SELECT candn.row, candn.col, CAST(SUM(b.value) AS BIGINT) AS nsum, CAST(COUNT(*) AS BIGINT) AS ncnt
        FROM candn JOIN px b ON b.row = candn.r2 AND b.col = candn.c2 GROUP BY 1, 2),
base AS (SELECT r.row, r.col, r.k, COALESCE(f.ncnt, 0) AS ncnt,
                (r.value * scal.n - scal.s) AS zi,
                (COALESCE(f.nsum, 0) * scal.n - COALESCE(f.ncnt, 0) * scal.s) AS lag_obs,
                COALESCE(f.nsum, 0) AS nsum_obs, scal.n AS n, scal.s AS s
         FROM ranked r LEFT JOIN foc f ON f.row = r.row AND f.col = r.col, scal),
cand AS (SELECT base.row, base.col, pe.p, base.k, base.ncnt, base.zi,
                base.lag_obs, base.nsum_obs, base.n, base.s,
                CASE WHEN (pe.amul * (base.k + ts.t) + pe.badd) % {n} = base.k
                     THEN (pe.amul * (base.k + base.ncnt + 1) + pe.badd) % {n}
                     ELSE (pe.amul * (base.k + ts.t) + pe.badd) % {n} END AS m
         FROM base CROSS JOIN perms pe CROSS JOIN ts
         WHERE ts.t <= base.ncnt),
per AS (SELECT cand.row, cand.col, cand.p,
               ANY_VALUE(cand.zi) AS zi, ANY_VALUE(cand.lag_obs) AS lag_obs,
               ANY_VALUE(cand.nsum_obs) AS nsum_obs, ANY_VALUE(cand.ncnt) AS ncnt,
               ANY_VALUE(cand.n) AS n, ANY_VALUE(cand.s) AS s,
               CAST(SUM(v.value) AS BIGINT) AS sumvb
        FROM cand JOIN ranked v ON v.k = cand.m GROUP BY 1, 2, 3),
cell AS (SELECT per.row, per.col,
                CAST(SUM({ge}) AS BIGINT) AS n_ge
         FROM per GROUP BY 1, 2)
SELECT base.row, base.col,
       CAST(base.zi AS BIGINT) AS zi,
       CAST(base.lag_obs AS BIGINT) AS lag_obs,
       CAST(base.nsum_obs AS BIGINT) AS nsum_obs,
       COALESCE(cell.n_ge, 0) AS n_ge,
       CASE WHEN cell.n_ge IS NOT NULL THEN
         ROUND((CASE WHEN {n_perm} - cell.n_ge < cell.n_ge
                     THEN {n_perm} - cell.n_ge ELSE cell.n_ge END + 1.0)
               / {float(n_perm + 1)}, 6) END AS p_sim
FROM base LEFT JOIN cell ON cell.row = base.row AND cell.col = base.col"""
