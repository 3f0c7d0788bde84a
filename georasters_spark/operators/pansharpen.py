"""Pansharpening — the gdal_pansharpen role (weighted Brovey).

GDAL's pansharpening utility fuses a high-resolution panchromatic band
with ``ratio``-times-coarser multispectral (MS) bands: each MS band is
upsampled to the pan grid, a pseudo-pan is formed as the weighted sum
of the upsampled bands, and every output sample is

    out_b = ms_up_b * pan / pseudo_pan        (weighted Brovey)

The reference ecosystem reaches this through ``gdal_pansharpen.py``;
this module re-expresses it Spark-first over the engine's pixel tables
as one block-cogroup plan (the focal/tiles stencil shape): pan pixels
key by (row//block, col//block), each MS cell goes to every pan block
whose pixels reference it (<= 2 candidate blocks per axis, a small
boundary duplication), and one cogrouped numpy kernel does the
bilinear upsample (the four corners clamped to the MS grid), the
pseudo-pan and the ratio for every band at once.  Pixels cross ONE
exchange each side: no exploded-corner join, no per-pixel aggregate.

Exactness contract (DuckDB oracle ``brovey_sql``): with integer
synthetic fields, ratio-2 bilinear weights are dyadic rationals
(1/16..9/16) and the default band weights are dyadic (1/4, 3/8, 3/8),
so every intermediate up to the final division is EXACT in float64 and
order-free; the final ``ms_up · pan / pseudo`` is one double divide,
rounded to 6 dp by ``F.round`` on the engine and ``ROUND`` in DuckDB.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .reproject import dlit

DEFAULT_WEIGHTS = (0.25, 0.375, 0.375)


def brovey_pansharpen(pan: DataFrame, ms: DataFrame,
                      ms_shape: tuple[int, int], ratio: int,
                      n_bands: int,
                      weights: tuple[float, ...] = DEFAULT_WEIGHTS,
                      block: int = 512) -> DataFrame:
    """Weighted-Brovey fuse of ``pan`` (row, col, value) with ``ms``
    (band, row, col, value) at ``ratio``-coarser resolution.  Returns
    one (row, col, band, value) row per pan pixel and band, the value
    rounded to 6 dp.  The value is NULL where the pseudo-pan is 0,
    where a bilinear corner is missing in some band, and where the
    pixel lies more than one MS cell outside the MS grid."""
    if len(weights) != n_bands:
        raise ValueError(f"pansharpen: {n_bands} bands but "
                         f"{len(weights)} weights")
    if block < 4 * ratio:
        raise ValueError("pansharpen: block must be >= 4*ratio")
    mh, mw = ms_shape
    w_arr = [float(w) for w in weights]

    pb = pan.select(
        "row", "col", F.col("value").alias("pan"),
        F.floor(F.col("row") / block).alias("_br"),
        F.floor(F.col("col") / block).alias("_bc"),
    )
    # ms cell m is referenced by pan index r iff floor((r+0.5)/ratio
    # - 0.5) ∈ {m-1, m}  ⇔  r ∈ [ratio·(m-0.5)-0.5, ratio·(m+1.5)-0.5);
    # that span is 3·ratio < block, so <= 2 candidate blocks per axis
    def lo(c):
        return F.ceil(F.lit(float(ratio)) * (c - F.lit(0.5)) - F.lit(0.5))

    cand = F.explode(F.array(*[
        F.struct(F.lit(dr).alias("dr"), F.lit(dc).alias("dc"))
        for dr in (0, 1) for dc in (0, 1)])).alias("_d")
    mb = ms.select(
        F.col("band").cast("long").alias("band"),
        F.col("row").alias("mrow"), F.col("col").alias("mcol"),
        F.col("value").alias("mv"), cand,
        F.floor(lo(F.col("row")) / block).alias("_r0b"),
        F.floor(lo(F.col("col")) / block).alias("_c0b"),
    ).select(
        "band", "mrow", "mcol", "mv",
        (F.col("_r0b") + F.col("_d.dr")).alias("_br"),
        (F.col("_c0b") + F.col("_d.dc")).alias("_bc"),
    ).filter(
        # keep a candidate block only if the reference span reaches it
        ((F.col("_br") * block) <= F.lit(float(ratio)) * (F.col("mrow") + F.lit(1.5)) - F.lit(0.5))
        & ((F.col("_bc") * block) <= F.lit(float(ratio)) * (F.col("mcol") + F.lit(1.5)) - F.lit(0.5))
        & (F.col("_br") >= 0) & (F.col("_bc") >= 0)
    )

    out_schema = "row long, col long, band long, value double"

    def kernel(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if not len(left):
            return pd.DataFrame(columns=["row", "col", "band", "value"])
        r = left["row"].to_numpy(np.int64)
        c = left["col"].to_numpy(np.int64)
        pv = left["pan"].to_numpy(np.float64)
        u = (r + 0.5) / float(ratio) - 0.5
        v = (c + 0.5) / float(ratio) - 0.5
        r0 = np.floor(u).astype(np.int64)
        c0 = np.floor(v).astype(np.int64)
        fr = u - np.floor(u)
        fc = v - np.floor(v)
        if len(right):
            mr_min = int(right["mrow"].min())
            mc_min = int(right["mcol"].min())
            slab = np.full((n_bands,
                            int(right["mrow"].max()) - mr_min + 1,
                            int(right["mcol"].max()) - mc_min + 1), np.nan)
            slab[right["band"].to_numpy(np.int64),
                 right["mrow"].to_numpy(np.int64) - mr_min,
                 right["mcol"].to_numpy(np.int64) - mc_min] = \
                right["mv"].to_numpy(np.float64)
        else:
            mr_min = mc_min = 0
            slab = np.full((n_bands, 1, 1), np.nan)
        rr0 = np.clip(r0, 0, mh - 1) - mr_min
        rr1 = np.clip(r0 + 1, 0, mh - 1) - mr_min
        cc0 = np.clip(c0, 0, mw - 1) - mc_min
        cc1 = np.clip(c0 + 1, 0, mw - 1) - mc_min
        ok = ((rr0 >= 0) & (rr1 < slab.shape[1])
              & (cc0 >= 0) & (cc1 < slab.shape[2]))
        rr0c, rr1c = np.where(ok, rr0, 0), np.where(ok, rr1, 0)
        cc0c, cc1c = np.where(ok, cc0, 0), np.where(ok, cc1, 0)
        up = np.empty((n_bands, len(r)))
        for b in range(n_bands):
            s = slab[b]
            up[b] = ((1 - fr) * (1 - fc) * s[rr0c, cc0c]
                     + (1 - fr) * fc * s[rr0c, cc1c]
                     + fr * (1 - fc) * s[rr1c, cc0c]
                     + fr * fc * s[rr1c, cc1c])
            up[b][~ok] = np.nan
        pseudo = np.zeros(len(r))
        for b in range(n_bands):
            pseudo = pseudo + w_arr[b] * up[b]
        out_rows = np.tile(r, n_bands)
        out_cols = np.tile(c, n_bands)
        out_band = np.repeat(np.arange(n_bands, dtype=np.int64), len(r))
        band_vals = []
        for b in range(n_bands):
            valid = (np.isfinite(up[b]) & np.isfinite(pseudo)
                     & np.isfinite(pv) & (pseudo != 0))
            den = np.where(valid, pseudo, 1.0)
            x = np.where(valid, up[b], 0.0) * pv / den
            band_vals.append(np.where(valid, x, np.nan))
        vals = np.concatenate(band_vals)
        return pd.DataFrame({
            "row": out_rows, "col": out_cols, "band": out_band,
            "value": pd.array(vals, dtype="Float64"),
        })

    return (
        pb.groupBy("_br", "_bc")
        .cogroup(mb.groupBy("_br", "_bc"))
        .applyInPandas(kernel, out_schema)
        .withColumn("value", F.round("value", 6))
    )


def brovey_sql(pan_cte: str, ms_value_expr: str,
               ms_shape: tuple[int, int], ratio: int, n_bands: int,
               weights: tuple[float, ...] = DEFAULT_WEIGHTS,
               round_dp: int = 6) -> str:
    """DuckDB oracle: an exploded-corner join that mirrors
    brovey_pansharpen inside the MS footprint (a pixel more than one MS
    cell outside it is NULL in the plan and clamped here).

    ``pan_cte`` must define ``pan(row, col, value)``; ``ms_value_expr``
    is a SQL expression in (band, mrow, mcol) for the MS field value.
    """
    mh, mw = ms_shape
    rr = dlit(float(ratio))
    up = ", ".join(
        f"SUM(CASE WHEN band = {b} THEN wgt * mv END) AS ms{b}"
        for b in range(n_bands))
    pseudo = " + ".join(f"{dlit(w)} * ms{b}" for b, w in enumerate(weights))
    sel = "\nUNION ALL\n".join(
        f"SELECT row, col, CAST({b} AS BIGINT) AS band,\n"
        f"       CASE WHEN pseudo <> 0 THEN ROUND(ms{b} * pan / pseudo, "
        f"{round_dp}) END AS value FROM wide2"
        for b in range(n_bands))
    return f"""{pan_cte},
ms AS (
  SELECT b.range AS band, r.range AS mrow, c.range AS mcol,
         CAST({ms_value_expr} AS DOUBLE) AS mv
  FROM range({n_bands}) b CROSS JOIN range({mh}) r CROSS JOIN range({mw}) c),
corners AS (
  SELECT pan.row, pan.col, pan.value AS pan,
         LEAST(GREATEST(CAST(FLOOR((pan.row + 0.5) / {rr} - 0.5) AS BIGINT) + d.dr, 0), {mh - 1}) AS mrow,
         LEAST(GREATEST(CAST(FLOOR((pan.col + 0.5) / {rr} - 0.5) AS BIGINT) + d.dc, 0), {mw - 1}) AS mcol,
         (CASE WHEN d.dr = 0
               THEN 1.0 - ((pan.row + 0.5) / {rr} - 0.5 - FLOOR((pan.row + 0.5) / {rr} - 0.5))
               ELSE (pan.row + 0.5) / {rr} - 0.5 - FLOOR((pan.row + 0.5) / {rr} - 0.5) END
          * CASE WHEN d.dc = 0
               THEN 1.0 - ((pan.col + 0.5) / {rr} - 0.5 - FLOOR((pan.col + 0.5) / {rr} - 0.5))
               ELSE (pan.col + 0.5) / {rr} - 0.5 - FLOOR((pan.col + 0.5) / {rr} - 0.5) END) AS wgt
  FROM pan CROSS JOIN (SELECT dr.range AS dr, dc.range AS dc
                       FROM range(2) dr CROSS JOIN range(2) dc) d),
wide AS (
  SELECT c.row, c.col, FIRST(c.pan) AS pan, {up}
  FROM corners c JOIN ms ON ms.mrow = c.mrow AND ms.mcol = c.mcol
  GROUP BY c.row, c.col),
wide2 AS (SELECT *, {pseudo} AS pseudo FROM wide)
SELECT row, col, band, value FROM (
{sel}
)"""
