"""gdal_sieve analog (algebra.sieve) vs an independent numpy
implementation of the same documented semantics — including a
cascade-heavy case where small regions merge into small regions
(merge-graph CC path) and a multi-round fixpoint."""

from collections import defaultdict

import numpy as np
import pytest
from pyspark.sql import functions as F

from georasters_spark.operators import algebra as AL


def _field(h, w, seed, divisor):
    r = np.arange(h)[:, None]
    c = np.arange(w)[None, :]
    return ((r * 7919 + c * 104729 + seed) % 1997) // divisor


def _label_cc(v, mask=None, conn=4):
    h, w = v.shape
    ok = np.ones_like(v, bool) if mask is None else mask
    dirs = [(0, 1), (0, -1), (1, 0), (-1, 0)]
    if conn == 8:
        dirs += [(1, 1), (1, -1), (-1, 1), (-1, -1)]
    lab = -np.ones((h, w), np.int64)
    nxt = 0
    for i in range(h):
        for j in range(w):
            if not ok[i, j] or lab[i, j] >= 0:
                continue
            stack = [(i, j)]
            lab[i, j] = nxt
            while stack:
                y, x = stack.pop()
                for dy, dx in dirs:
                    yy, xx = y + dy, x + dx
                    if (0 <= yy < h and 0 <= xx < w and ok[yy, xx]
                            and lab[yy, xx] < 0 and v[yy, xx] == v[y, x]):
                        lab[yy, xx] = nxt
                        stack.append((yy, xx))
            nxt += 1
    return lab, nxt


def _sieve_numpy(v, thresh, mask=None, conn=4):
    """The engine's documented semantics: per round every small region
    merges into its largest neighbor (ties -> smallest id); merge-graph
    components collapse to their largest member; repeat to fixpoint.
    Returns (per-cell value, per-cell final region key, rounds)."""
    lab, n = _label_cc(v, mask, conn)
    h, w = v.shape
    sz = {i: 0 for i in range(n)}
    val = {}
    for i in range(h):
        for j in range(w):
            if lab[i, j] >= 0:
                sz[lab[i, j]] += 1
                val[lab[i, j]] = v[i, j]
    adir = [(0, 1), (1, 0)] + ([(1, 1), (1, -1)] if conn == 8 else [])
    E = set()
    for i in range(h):
        for j in range(w):
            if lab[i, j] < 0:
                continue
            for dy, dx in adir:
                y, x = i + dy, j + dx
                if (0 <= y < h and 0 <= x < w and lab[y, x] >= 0
                        and lab[y, x] != lab[i, j]):
                    E.add((lab[i, j], lab[y, x]))
                    E.add((lab[y, x], lab[i, j]))
    cur = {i: i for i in range(n)}
    rounds = 0
    while True:
        nbrs = defaultdict(list)
        for a2, b2 in E:
            nbrs[a2].append(b2)
        alive = set(cur.values())
        small = [a for a in alive if sz[a] < thresh and nbrs[a]]
        if not small:
            break
        rounds += 1
        m = {a: max(nbrs[a], key=lambda b: (sz[b], -b)) for a in small}
        par = {}

        def find(x):
            while par.get(x, x) != x:
                par[x] = par.get(par[x], par[x])
                x = par[x]
            return x

        for a2, b2 in m.items():
            ra, rb = find(a2), find(b2)
            if ra != rb:
                par[max(ra, rb)] = min(ra, rb)
        comps = defaultdict(list)
        for x in set(list(m) + list(m.values())):
            comps[find(x)].append(x)
        step = {}
        for members in comps.values():
            rep = max(members, key=lambda x: (sz[x], -x))
            for x in members:
                if x != rep:
                    step[x] = rep
        E = {(step.get(a2, a2), step.get(b2, b2)) for a2, b2 in E
             if step.get(a2, a2) != step.get(b2, b2)}
        for x, rep in step.items():
            sz[rep] += sz[x]
        for o in cur:
            if cur[o] in step:
                cur[o] = step[cur[o]]
    out_v = np.full((h, w), -1, np.int64)
    out_r = np.full((h, w), -1, np.int64)
    for i in range(h):
        for j in range(w):
            if lab[i, j] >= 0:
                out_r[i, j] = cur[lab[i, j]]
                out_v[i, j] = val[cur[lab[i, j]]]
    return out_v, out_r, rounds


def _px_of(spark, v, mask=None):
    rows = [(int(r), int(c), int(v[r, c]))
            for r in range(v.shape[0]) for c in range(v.shape[1])
            if mask is None or mask[r, c]]
    return spark.createDataFrame(rows, "row long, col long, value long")


@pytest.mark.parametrize("divisor, thresh", [
    (250, 3),    # one round, winners all big
    (150, 3),    # cascade-heavy: small->small merges, merge-graph CC
    (150, 6),    # multi-merge unions
])
def test_sieve_matches_numpy(spark, divisor, thresh):
    v = _field(48, 48, 42, divisor)
    exp_v, exp_r, rounds = _sieve_numpy(v, thresh)
    got = AL.sieve(_px_of(spark, v), threshold=thresh).toPandas()
    assert len(got) == v.size
    gv = np.full(v.shape, -1, np.int64)
    gr = np.full(v.shape, -2, np.int64)
    for t in got.itertuples(index=False):
        gv[t.row, t.col] = int(t.value)
        gr[t.row, t.col] = t.region_id
    assert (gv == exp_v).all()
    # region ids are engine-specific tokens: compare PARTITIONS
    import pandas as pd
    df = pd.DataFrame({"g": gr.ravel(), "e": exp_r.ravel()})
    assert (df.groupby("g")["e"].nunique() == 1).all()
    assert (df.groupby("e")["g"].nunique() == 1).all()


@pytest.mark.parametrize("conn", [4, 8])
def test_sieve_cross_tile_matches_numpy(spark, conn):
    """Grids WIDER than the 64-px labeling tile, both connectivities:
    pins the r7 shared-border path (raw any-value border pairs mapped
    through the root map) — region adjacency crossing tile boundaries,
    including the diagonal bands at connectivity=8, must match the
    numpy reference exactly.  (The other sieve tests use <=48x48 grids
    that fit one tile, so this path was previously bench-only.)"""
    v = _field(100, 100, 7, 150)
    exp_v, exp_r, _ = _sieve_numpy(v, 3, conn=conn)
    got = AL.sieve(_px_of(spark, v), threshold=3,
                   connectivity=conn).toPandas()
    assert len(got) == v.size
    gv = np.full(v.shape, -1, np.int64)
    gr = np.full(v.shape, -2, np.int64)
    for t in got.itertuples(index=False):
        gv[t.row, t.col] = int(t.value)
        gr[t.row, t.col] = t.region_id
    assert (gv == exp_v).all()
    import pandas as pd
    df = pd.DataFrame({"g": gr.ravel(), "e": exp_r.ravel()})
    assert (df.groupby("g")["e"].nunique() == 1).all()
    assert (df.groupby("e")["g"].nunique() == 1).all()


def test_sieve_masked_and_isolated_small(spark):
    """Masked cells separate regions; a small region with NO neighbors
    survives untouched."""
    v = np.zeros((8, 8), np.int64)
    v[0:2, 0:2] = 5          # 4-cell region
    v[0, 4] = 9              # 1-cell region, isolated by mask
    mask = np.ones((8, 8), bool)
    mask[0:2, 3] = False
    mask[1, 4] = False
    mask[0, 5] = False
    exp_v, _, _ = _sieve_numpy(v, 3, mask)
    got = AL.sieve(_px_of(spark, v, mask), threshold=3).toPandas()
    assert len(got) == int(mask.sum())
    for t in got.itertuples(index=False):
        assert int(t.value) == exp_v[t.row, t.col]
    # the isolated 1-cell region kept its value
    assert int(got[(got.row == 0) & (got.col == 4)]["value"].iloc[0]) == 9


def test_sieve_threshold_validation(spark):
    with pytest.raises(ValueError, match="threshold"):
        AL.sieve(_px_of(spark, np.zeros((2, 2), np.int64)), threshold=0)


@pytest.mark.parametrize("budget, forced", [("-1", False), ("10MB", True)])
def test_sieve_region_broadcast_follows_session_budget(spark, monkeypatch,
                                                       budget, forced):
    """The per-round region-metadata joins are force-broadcast only
    while the counted region table fits the session's
    spark.sql.autoBroadcastJoinThreshold: with broadcast joins disabled
    the hint is never placed, and the sieved values are unchanged."""
    hinted = []
    real = F.broadcast

    def spy(df):
        hinted.append(set(df.columns))
        return real(df)

    monkeypatch.setattr(F, "broadcast", spy)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, budget)
    try:
        v = _field(24, 24, 42, 300)
        exp_v, _, _ = _sieve_numpy(v, 3)
        got = AL.sieve(_px_of(spark, v), threshold=3).toPandas()
    finally:
        spark.conf.set(key, old)
    gv = np.full(v.shape, -1, np.int64)
    for t in got.itertuples(index=False):
        gv[t.row, t.col] = int(t.value)
    assert (gv == exp_v).all()
    assert any({"sza"} <= c or {"szb"} <= c for c in hinted) is forced


def test_sieve_gate_window_oracle_validity():
    """The sieve GATE's single-round SQL oracle is valid iff, on the
    gate window, (a) the fixpoint is reached in ONE round and (b) every
    small region's winner is big (no merge-graph chains/cycles). Pin
    both facts against the numpy reference."""
    from georasters_spark.queries import SPEC

    r = np.arange(128)[:, None]
    c = np.arange(128)[None, :]
    v = (((r * 7919 + c * 104729 + SPEC.seed) % 1997) // 250).astype(np.int64)
    _, _, rounds = _sieve_numpy(v, 3)
    assert rounds == 1
    lab, n = _label_cc(v)
    sz = np.bincount(lab.ravel(), minlength=n)
    nbrs = defaultdict(list)
    h, w = v.shape
    for i in range(h):
        for j in range(w):
            for dy, dx in ((0, 1), (1, 0)):
                y, x = i + dy, j + dx
                if y < h and x < w and lab[y, x] != lab[i, j]:
                    nbrs[lab[i, j]].append(lab[y, x])
                    nbrs[lab[y, x]].append(lab[i, j])
    smalls = [a for a in range(n) if sz[a] < 3 and nbrs[a]]
    assert len(smalls) > 100  # the gate really merges
    for a in smalls:
        wreg = max(nbrs[a], key=lambda b: (sz[b], -b))
        assert sz[wreg] >= 3  # winner is big -> single relabel pass
