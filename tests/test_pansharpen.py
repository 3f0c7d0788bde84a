"""Weighted-Brovey pansharpen (operators/pansharpen.py) vs a numpy
mirror and the DuckDB oracle, plus the NULL contract (pseudo-pan 0,
missing corner, out of reach)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from georasters_spark.operators import pansharpen as PS
from georasters_spark.sources import synth

MH, MW, RATIO, NB = 16, 20, 2, 3
H, W = MH * RATIO, MW * RATIO
SEED0 = 142
WEIGHTS = PS.DEFAULT_WEIGHTS


def _ms_field(band: int) -> np.ndarray:
    r = np.arange(MH, dtype=np.int64)[:, None]
    c = np.arange(MW, dtype=np.int64)[None, :]
    return ((r * 7919 + c * 104729 + (SEED0 + band)) % 1997).astype(np.float64)


def _numpy_brovey(pan: np.ndarray) -> np.ndarray:
    """(NB, H, W) expected output (nan where pseudo == 0)."""
    u = (np.arange(H) + 0.5) / RATIO - 0.5
    v = (np.arange(W) + 0.5) / RATIO - 0.5
    r0 = np.floor(u).astype(np.int64)
    c0 = np.floor(v).astype(np.int64)
    fr = (u - np.floor(u))[:, None]
    fc = (v - np.floor(v))[None, :]
    up = np.empty((NB, H, W))
    for b in range(NB):
        f = _ms_field(b)
        g = lambda rr, cc: f[np.clip(rr, 0, MH - 1)[:, None],
                             np.clip(cc, 0, MW - 1)[None, :]]
        up[b] = ((1 - fr) * (1 - fc) * g(r0, c0)
                 + (1 - fr) * fc * g(r0, c0 + 1)
                 + fr * (1 - fc) * g(r0 + 1, c0)
                 + fr * fc * g(r0 + 1, c0 + 1))
    pseudo = sum(w * up[b] for b, w in enumerate(WEIGHTS))
    out = np.full((NB, H, W), np.nan)
    ok = pseudo != 0
    for b in range(NB):
        out[b][ok] = np.round(up[b][ok] * pan[ok] / pseudo[ok], 6)
    return out


def _frames(spark, pan_arr):
    pan = spark.createDataFrame(
        [(int(r), int(c), float(pan_arr[r, c]))
         for r in range(H) for c in range(W)], "row long, col long, value double")
    ms = spark.createDataFrame(
        [(b, int(r), int(c), float(_ms_field(b)[r, c]))
         for b in range(NB) for r in range(MH) for c in range(MW)],
        "band long, row long, col long, value double")
    return pan, ms


def test_brovey_matches_numpy(spark):
    rng = np.random.default_rng(7)
    pan_arr = rng.integers(0, 1997, size=(H, W)).astype(np.float64)
    pan, ms = _frames(spark, pan_arr)
    got = PS.brovey_pansharpen(pan, ms, (MH, MW), RATIO, NB).collect()
    exp = _numpy_brovey(pan_arr)
    assert len(got) == NB * H * W
    for r in got:
        e = exp[int(r["band"]), int(r["row"]), int(r["col"])]
        if np.isnan(e):
            assert r["value"] is None
        else:
            assert r["value"] == pytest.approx(e, abs=1e-9)


def test_pseudo_zero_is_null(spark):
    """All-zero MS bands make pseudo-pan 0 everywhere: the Brovey ratio
    is undefined and must surface as NULL, never inf/nan."""
    pan = spark.createDataFrame([(0, 0, 5.0), (0, 1, 7.0)],
                                "row long, col long, value double")
    ms = spark.createDataFrame(
        [(b, r, c, 0.0) for b in range(NB) for r in range(2) for c in range(2)],
        "band long, row long, col long, value double")
    rows = PS.brovey_pansharpen(pan, ms, (2, 2), RATIO, NB).collect()
    assert len(rows) == NB * 2
    assert all(r["value"] is None for r in rows)


def test_weight_count_validation(spark):
    pan = spark.createDataFrame([(0, 0, 1.0)], "row long, col long, value double")
    with pytest.raises(ValueError, match="weights"):
        PS.brovey_pansharpen(pan, pan, (1, 1), RATIO, 2, weights=(1.0,))


def test_gate_window_sizes():
    """The gate's MS grid is exactly the ratio-2 coarsening of the t1
    grid (keeps the georef aligned by construction)."""
    spec = synth.T1
    assert (spec.height // 2, spec.width // 2) == (135, 270)


def test_blocks_plan_matches_pixel_plan(spark):
    """brovey_pansharpen ≡ the brovey_sql corner-join oracle run in
    DuckDB, exactly, on an aligned grid (exact dyadic corner sums, one
    double divide, 6-dp round on both engines)."""
    import duckdb

    pan = spark.createDataFrame(
        [(r, c, float((r * 7 + c * 13) % 97)) for r in range(H) for c in range(W)],
        "row long, col long, value double")
    ms = spark.createDataFrame(
        [(b, r, c, float(_ms_field(b)[r, c]))
         for b in range(NB) for r in range(MH) for c in range(MW)],
        "band long, row long, col long, value double")
    got = {(r["row"], r["col"], r["band"]): r["value"]
           for r in PS.brovey_pansharpen(pan, ms, (MH, MW), RATIO, NB,
                                         block=8).collect()}
    pan_cte = (
        "WITH pan AS (SELECT r.range AS row, c.range AS col,\n"
        "  CAST((r.range * 7 + c.range * 13) % 97 AS DOUBLE) AS value\n"
        f"  FROM range({H}) r CROSS JOIN range({W}) c)")
    sql = PS.brovey_sql(
        pan_cte,
        f"(r.range * 7919 + c.range * 104729 + ({SEED0} + b.range)) % 1997",
        (MH, MW), RATIO, NB)
    exp = {(int(r), int(c), int(b)): None if v is None else float(v)
           for r, c, b, v in duckdb.connect().execute(sql).fetchall()}
    assert len(got) == NB * H * W
    assert got == exp


def test_non_dyadic_ratio_has_no_spurious_null(spark):
    """At ratio 5 the four float bilinear weights need not sum to
    exactly 1.0; a dense MS grid that covers the pan must still give a
    value for every (pixel, band)."""
    mh, mw, ratio = 24, 30, 5
    h, w = mh * ratio, mw * ratio
    pan = spark.createDataFrame(
        [(r, c, float(1 + (r * 31 + c * 17) % 251))
         for r in range(h) for c in range(w)],
        "row long, col long, value double")
    ms = spark.createDataFrame(
        [(b, r, c, float(1 + (r * 7919 + c * 104729 + SEED0 + b) % 1997))
         for b in range(NB) for r in range(mh) for c in range(mw)],
        "band long, row long, col long, value double")
    out = PS.brovey_pansharpen(pan, ms, (mh, mw), ratio, NB)
    assert out.count() == NB * h * w
    assert out.filter(F.col("value").isNull()).count() == 0


def test_blocks_plan_out_of_reach_is_null(spark):
    """A pan pixel farther than one MS cell past the MS domain emits
    NULL (the brovey_sql oracle would clamp-extrapolate — the oracle
    mirrors the plan only inside the MS footprint)."""
    pan = spark.createDataFrame([(50, 50, 5.0)],
                                "row long, col long, value double")
    ms = spark.createDataFrame(
        [(b, r, c, 1.0) for b in range(NB) for r in range(2) for c in range(2)],
        "band long, row long, col long, value double")
    rows = PS.brovey_pansharpen(pan, ms, (2, 2), RATIO, NB,
                                block=16).collect()
    assert rows and all(r["value"] is None for r in rows)


def test_blocks_plan_block_validation(spark):
    pan = spark.createDataFrame([(0, 0, 1.0)], "row long, col long, value double")
    with pytest.raises(ValueError, match="block"):
        PS.brovey_pansharpen(pan, pan, (1, 1), 8, 1, weights=(1.0,),
                             block=16)


def test_pixel_plan_partial_ms_is_null(spark):
    """A missing MS corner cell (or band entry) must surface as NULL in
    the affected band, not a partial weighted sum (review finding)."""
    pan = spark.createDataFrame(
        [(0, 0, 10.0), (2, 2, 10.0)], "row long, col long, value double")
    ms_rows = [(b, r, c, 5.0) for b in range(NB)
               for r in range(2) for c in range(2)]
    # drop band 1's (1, 1) entry: pan (2,2)'s bilinear corners include
    # ms (1,1); pan (0,0)'s clamp to ms (0,0) only
    ms = spark.createDataFrame(
        [x for x in ms_rows if x[:3] != (1, 1, 1)],
        "band long, row long, col long, value double")
    got = {(r["row"], r["col"], r["band"]): r["value"]
           for r in PS.brovey_pansharpen(pan, ms, (2, 2), RATIO, NB).collect()}
    # pan (0,0): every band's (clamped) corners present -> defined
    assert all(got[(0, 0, b)] is not None for b in range(NB))
    # pan (2,2): band 1 misses a corner -> the pseudo-pan is undefined
    # -> NULL for EVERY band, never a partial sum
    assert all(got[(2, 2, b)] is None for b in range(NB))
