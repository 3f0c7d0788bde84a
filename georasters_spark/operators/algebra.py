"""Raster algebra operators that combine/reshape whole grids:
union (mosaic), align, map_vector, polygonize.

Union / later-wins (georasters.py:1493-1535, SURVEY §1.4.2), align
(georasters.py:1616-1681), map_vector scatter (georasters.py:1777-1790),
to_geopandas polygonize (georasters.py:1723-1738 — region merging of
connected equal-value cells).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def gini_agg(values: DataFrame, round_dp: int = 9, partitions: int = 32) -> DataFrame:
    """Gini coefficient, reference formula (georasters.py:949-961):
    ascending sort, y = cumsum, B = sum(y)/(y_last·n), G = 1 + 1/n − 2B;
    degenerate count <= 1 ⇒ 1 (the :960 guard). Input: one `value`
    column. Returns (n, gini).

    y_last is the TOTAL SUM (the last cumsum element), not max(cumsum)
    — they differ when negative values make the cumsum non-monotone.

    Distributed two-phase prefix sum (no single-task global window):
    range-partition by value, per-partition exact BIGINT partials
    (count, sum, Σ local cumsum), then Σycum = Σ_p [ycum_p + off_p·cnt_p]
    with off_p = Σ_{q<p} sum_q. Range boundaries may split runs of equal
    values, but a tie-run's cumsum total is permutation-invariant
    (m·C_prev + v·m(m+1)/2), so the result is exact regardless.
    """
    import pandas as pd
    from pyspark import TaskContext

    spark = values.sparkSession
    # integral inputs take the exact-BIGINT path (the oracle contract);
    # fractional inputs keep their values (float accumulators — NOT a
    # silent truncation) with ~1e-15 order-dependence, like any float sum
    integral = dict(values.dtypes)["value"] in ("tinyint", "smallint", "int", "bigint")
    vtype = "long" if integral else "double"
    np_t = np.int64 if integral else np.float64
    py_t = int if integral else float
    part = (
        values.select(F.col("value").cast(vtype).alias("value"))
        .repartitionByRange(partitions, "value")
        .sortWithinPartitions("value")
    )

    def partials(batches):
        pid = TaskContext.get().partitionId()
        cnt = 0
        tot = ycum = run = py_t(0)
        for pdf in batches:
            v = pdf["value"].to_numpy(np_t)
            if len(v) == 0:
                continue
            c = v.cumsum() + run
            ycum += py_t(c.sum())
            run = py_t(c[-1])
            cnt += len(v)
            tot += py_t(v.sum())
        yield pd.DataFrame({"pid": [pid], "cnt": [cnt], "tot": [tot], "ycum": [ycum]})

    rows = sorted(
        part.mapInPandas(
            partials, schema=f"pid int, cnt long, tot {vtype}, ycum {vtype}"
        ).collect(),
        key=lambda r: r.pid,
    )
    n = sum(r.cnt for r in rows)
    total = sum(r.tot for r in rows)
    sum_ycum = 0
    off = 0
    for r in rows:
        sum_ycum += r.ycum + off * r.cnt
        off += r.tot
    if n <= 1:
        g = 1.0
    elif total == 0:
        # all-zero (or exactly-cancelling) input: the reference's
        # B = sum(y)/(y_last*n) divides by zero and yields nan
        g = float("nan")
    else:
        # exact ints -> correctly-rounded doubles; identical to the SQL
        # oracle's CAST(..AS DOUBLE) expressions at this magnitude
        g = 1.0 + 1.0 / n - 2.0 * (sum_ycum / (total * n))
    out = spark.createDataFrame([(n, float(g))], "n long, gini double")
    return out.select("n", F.round("gini", round_dp).alias("gini"))


def union_pixels(pixel_dfs: list[DataFrame]) -> DataFrame:
    """Mosaic on a shared global lattice: later inputs overwrite earlier
    ones wherever they have data (list-order rule). Inputs: (row, col,
    value) valid-only tables."""
    tagged = None
    for i, df in enumerate(pixel_dfs):
        t = df.select("row", "col", "value").withColumn("ordinal", F.lit(i))
        tagged = t if tagged is None else tagged.unionByName(t)
    return tagged.groupBy("row", "col").agg(F.max_by("value", "ordinal").alias("value"))


def block_mean(px: DataFrame, by: int, bx: int) -> DataFrame:
    """Valid-cell block mean (align's fine->coarse resample,
    how=np.ma.mean default, georasters.py:1047-1053)."""
    return px.groupBy(
        (F.col("row") / by).cast("long").alias("brow"),
        (F.col("col") / bx).cast("long").alias("bcol"),
    ).agg(
        F.round(F.sum("value") / F.count("value"), 6).alias("vmean"),
        F.count("value").cast("long").alias("vcnt"),
    )


def align_grids(px_fine: DataFrame, px_coarse: DataFrame, factor: int) -> DataFrame:
    """Align a fine grid onto a coarse one (integer cell-size ratio):
    block-mean the fine pixels, inner-join on the coarse lattice =
    crop-to-overlap (georasters.py:1616-1681). Output one row per
    overlapping coarse cell: (brow, bcol, va_mean, va_cnt, vb)."""
    fine = block_mean(px_fine, factor, factor)
    coarse = px_coarse.select(
        F.col("row").alias("brow"), F.col("col").alias("bcol"), F.col("value").alias("vb")
    )
    return fine.join(coarse, ["brow", "bcol"]).select(
        "brow", "bcol", F.col("vmean").alias("va_mean"), F.col("vcnt").alias("va_cnt"), "vb"
    )


def c_order_index(px: DataFrame, partitions: int = 32) -> DataFrame:
    """(row, col, i): dense 0-based C-order (row-major) enumeration of
    the cells — the distributed two-phase pattern (no single-task
    global row_number window): range-partition by (row, col), count
    per partition, broadcast the per-partition base offsets, then
    assign i = base + local index inside each sorted partition.
    (row, col) is unique, so the assignment is exact, deterministic
    and identical to ROW_NUMBER() OVER (ORDER BY row, col) - 1."""
    import pandas as pd
    from pyspark import TaskContext

    spark = px.sparkSession
    part = (
        px.select("row", "col")
        .repartitionByRange(partitions, "row", "col")
        .sortWithinPartitions("row", "col")
        .persist()
    )

    def counts(batches):
        pid = TaskContext.get().partitionId()
        c = 0
        for pdf in batches:
            c += len(pdf)
        yield pd.DataFrame({"pid": [pid], "cnt": [c]})

    crows = sorted(part.mapInPandas(counts, schema="pid int, cnt long").collect(),
                   key=lambda r: r.pid)
    bases = {}
    acc = 0
    for r in crows:
        bases[r.pid] = acc
        acc += r.cnt
    bc = spark.sparkContext.broadcast(bases)

    def index(batches):
        pid = TaskContext.get().partitionId()
        k = bc.value.get(pid, 0)
        for pdf in batches:
            n = len(pdf)
            out = pdf[["row", "col"]].copy()
            out["i"] = np.arange(k, k + n, dtype=np.int64)
            k += n
            yield out

    # checkpoint the enumeration then release the cached input — the
    # persisted partitions must not accumulate across repeated calls
    ranked = part.mapInPandas(index, schema="row long, col long, i long")
    ranked = ranked.localCheckpoint(eager=True)
    part.unpersist()
    return ranked


def map_vector(px: DataFrame, vec: DataFrame, partitions: int = 32) -> DataFrame:
    """Scatter a flat vector back into the unmasked cells in C-order
    (row-major) — georasters.py:1777-1790: cell k in (row, col) sort
    order receives vec[k]. Enumeration via c_order_index (two-phase
    distributed, no global window)."""
    return (c_order_index(px, partitions)
            .join(vec, "i").select("row", "col", "i", "new_value"))


# ---------------------------------------------------------------------------
# polygonize: connected components of equal-value cells
# ---------------------------------------------------------------------------

# labeling tile side shared by polygonize_labels AND sieve: sieve's
# intra-tile edge pass assumes every same-tile adjacency (at this side)
# was either labeled together or appears in polygonize_labels' border
# pair set — two independently tuned constants would silently drop
# adjacency edges, so there is exactly one
_CC_TILE = 64

def polygonize(px: DataFrame, connectivity: int = 4, merge: str = "auto") -> DataFrame:
    """Label connected equal-value regions and aggregate one row per
    region: (region_id, value, n_cells, min_row, min_col, max_row,
    max_col). See polygonize_labels for the labeling algorithm."""
    final = polygonize_labels(px, connectivity, merge=merge)
    return final.groupBy("region_id").agg(
        F.first("value").alias("value"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.min("row").alias("min_row"),
        F.min("col").alias("min_col"),
        F.max("row").alias("max_row"),
        F.max("col").alias("max_col"),
    )


# Spark byte-string suffixes (binary units, as JavaUtils.byteStringAsBytes)
_BYTE_UNITS = {"": 1, "b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20,
               "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30, "t": 1 << 40,
               "tb": 1 << 40, "p": 1 << 50, "pb": 1 << 50}


def _fits_broadcast(spark, n_bytes: int) -> bool:
    """True when a table of ``n_bytes`` fits the session's broadcast
    budget (spark.sql.autoBroadcastJoinThreshold, e.g. "10MB" or
    "10485760b"; negative disables broadcast joins), so a forced hint
    never exceeds what the optimizer itself would broadcast."""
    raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold").strip().lower()
    num = raw.rstrip("bkmgtp")
    limit = int(num) * _BYTE_UNITS[raw[len(num):]]
    return 0 <= n_bytes <= limit


def sieve(px: DataFrame, threshold: int, connectivity: int = 4,
          max_rounds: int = 64, driver_edge_cap: int = 500_000) -> DataFrame:
    """gdal_sieve: connected equal-value regions SMALLER than
    `threshold` cells take the value of their LARGEST adjacent region
    (gdal_sieve.py's documented rule; nodata cells are absent from px
    and naturally un-mergeable). Returns per-cell
    (row, col, value, region_id) with sieved values.

    Deterministic conventions where GDAL's scan-order processing is
    unspecified: each ROUND merges every small region (size <
    threshold, >= 1 neighbor) into its largest neighbor simultaneously
    (ties -> the region whose FIRST CELL comes earliest in scan order
    — an engine-independent anchor; internal region ids are opaque
    tile-packed tokens whose order must never leak into results);
    chains and cycles of mutually-small regions collapse via connected
    components of the merge graph, the merged region represented (id
    AND value) by its largest member (ties -> earliest anchor); rounds
    repeat until every remaining small region is neighborless. Region
    count strictly decreases per round, so termination is structural.

    Scale shape: pixels are touched exactly TWICE — the
    polygonize_labels two-phase CC, and ONE final relabel join — and
    every sieve round runs on REGION-level tables (sizes + adjacency
    edges), orders smaller than the raster. The per-round merge-graph
    CC takes the driver union-find fast path while the merge edge set
    fits driver_edge_cap (one collect of region-METADATA rows — the
    polygonize merge='auto' precedent; merge components are stars/
    small chains, trivially resolved) and falls back to
    _merge_labels_distributed (executor-side, never collected) past
    the cap — the 100-TB path."""
    if threshold < 1:
        raise ValueError("sieve: threshold must be >= 1")
    spark = px.sparkSession
    # shared-border mode (r7): ONE band-join pass inside
    # polygonize_labels yields both its equal-value merge edges and the
    # raw any-value border adjacency this sieve needs — the previous
    # second band-join pass over the merged labels is replaced by
    # mapping the pre-merge pairs through the root map below
    final, raw_border, roots, _labeled = polygonize_labels(
        px, connectivity=connectivity, _return_border=True)
    L = final.localCheckpoint(eager=True)
    # every consumer of the internal labeled cache has materialized by
    # now (raw/merge map during polygonize_labels, final into L): at
    # 100-TB scale that cache is the largest transient in the job —
    # release it instead of leaving it to eviction
    _labeled.unpersist()
    S = L.groupBy("region_id").agg(
        F.count(F.lit(1)).alias("sz"), F.first("value").alias("value"),
        F.min("row").alias("a_r"),
        F.expr("min_by(col, struct(row, col))").alias("a_c"))
    # region adjacency at PIXEL level, once — but never as a full-table
    # pixel join: INTRA-tile edges come from one numpy-shift grouped
    # map (each task emits its tile's DEDUPED different-region pairs),
    # and CROSS-tile edges from border-band joins where both sides are
    # O(border) rows (the polygonize cross-tile precedent). One
    # exchange of the labels instead of per-offset sort-merge joins of
    # the whole pixel table.
    offs = [(0, 1), (1, 0)] + ([(1, 1), (1, -1)] if connectivity == 8 else [])
    tile = _CC_TILE
    keyed = L.withColumn("trow", F.floor(F.col("row") / tile).cast("int"))              .withColumn("tcol", F.floor(F.col("col") / tile).cast("int"))

    def tile_edges(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ty, tx = int(key[0]), int(key[1])
        r = pdf["row"].to_numpy(np.int64) - ty * tile
        c = pdf["col"].to_numpy(np.int64) - tx * tile
        lab = pdf["region_id"].to_numpy(np.int64)
        grid = np.full((tile, tile), -1, np.int64)
        grid[r, c] = lab
        pairs = []
        for dr, dc in offs:
            sa = grid[max(0, -dr):tile - max(0, dr),
                      max(0, -dc):tile - max(0, dc)]
            sb = grid[max(0, dr):tile + min(0, dr),
                      max(0, dc):tile + min(0, dc)]
            m2 = (sa >= 0) & (sb >= 0) & (sa != sb)
            if m2.any():
                pairs.append(np.stack([sa[m2], sb[m2]], axis=1))
        if not pairs:
            return pd.DataFrame({"ra": np.empty(0, np.int64),
                                 "rb": np.empty(0, np.int64)})
        e = np.unique(np.concatenate(pairs), axis=0)
        return pd.DataFrame({"ra": e[:, 0], "rb": e[:, 1]})

    E_dir = keyed.groupBy("trow", "tcol").applyInPandas(
        tile_edges, schema="ra long, rb long")
    # cross-tile adjacency from the SHARED border pass: the raw
    # pre-merge (la, lb) pairs map to region ids through the root map
    # (broadcast when polygonize_labels judged it small; the same
    # coalesce rule its final labels used), then different-region
    # filtering — identical pairs to a post-merge band join
    if roots is None:
        ec = raw_border.select(F.col("la").alias("ra"),
                               F.col("lb").alias("rb"))
    else:
        ec = (raw_border.select("la", "lb")
              .join(roots.select(F.col("label").alias("la"),
                                 F.col("root").alias("_rta")), "la", "left")
              .join(roots.select(F.col("label").alias("lb"),
                                 F.col("root").alias("_rtb")), "lb", "left")
              .select(F.coalesce("_rta", "la").alias("ra"),
                      F.coalesce("_rtb", "lb").alias("rb")))
    E_dir = E_dir.unionByName(ec.filter(F.col("ra") != F.col("rb")))
    # canonicalize (a < b) BEFORE the distinct and checkpoint the result
    # ONCE, then symmetrize from the checkpoint: the old
    # `E union swap(E) distinct` lineage executed the grouped-map and
    # every band join twice (one per union branch) — the single most
    # expensive measured phase of the E build.  The symmetric union of
    # a distinct a<b set needs no second distinct.
    E = (E_dir.select(F.least("ra", "rb").alias("ra"),
                      F.greatest("ra", "rb").alias("rb"))
         .distinct().localCheckpoint(eager=True))
    E = E.unionByName(E.select(F.col("rb").alias("ra"),
                               F.col("ra").alias("rb")))
    S = S.localCheckpoint(eager=True)
    # size-gated broadcast for the per-round merge-candidate build: the
    # checkpointed region tables are LogicalRDDs whose size statistics
    # the optimizer treats as unknown, so the m build otherwise runs
    # THREE shuffle joins over metadata-scale tables every round.  The
    # gate estimates the counted region table's bytes (one cheap job
    # over the checkpoint; rows x an 8-byte-per-column row) against the
    # session's own broadcast budget, not the local core count; past
    # the budget the shuffle joins stay — the 100-TB path.
    n_regions = S.count()
    bcast_meta = _fits_broadcast(spark, n_regions * 8 * (1 + len(S.columns)))

    def _bm(df):
        return F.broadcast(df) if bcast_meta else df

    S0 = S  # original region table: reps keep their id AND value, so the
    # final value of any merged region is its rep's ORIGINAL value — the
    # last round never needs to rebuild S just for the output join.
    # changed-only mapping state: regions never touched by a merge are
    # identity-mapped implicitly (coalesce at the final join), so the
    # mapping table is merge-count-sized instead of region-count-sized.
    drv_map: dict[int, int] = {}   # orig -> current rep (driver rounds)
    drv_val: dict[int, float] = {}  # node -> its ORIGINAL value
    drv_ok = True                   # every round so far took the driver path
    changed = None                  # DataFrame (orig, cur) once distributed
    for _ in range(max_rounds):
        small = S.filter(F.col("sz") < threshold).select(
            F.col("region_id").alias("ra"), F.col("sz").alias("sza"),
            F.col("value").alias("va"),
            F.col("a_r").alias("aa_r"), F.col("a_c").alias("aa_c"))
        # one row per merging small region, CARRYING both endpoints'
        # (size, value, anchor) metadata so the driver fast path needs
        # exactly one collect; the small-side join runs FIRST so the
        # region metadata only attaches to edges that can merge
        m = (E.join(_bm(small), "ra")
             .join(_bm(S.select(F.col("region_id").alias("rb"),
                                F.col("sz").alias("szb"),
                                F.col("value").alias("vb"),
                                F.col("a_r").alias("ab_r"),
                                F.col("a_c").alias("ab_c"))), "rb")
             .groupBy("ra", "sza", "va", "aa_r", "aa_c")
             .agg(F.expr(
                 "min_by(struct(rb, szb, vb, ab_r, ab_c),"
                 " struct(-szb, ab_r, ab_c))").alias("w"))
             .select("ra", "sza", "va", "aa_r", "aa_c",
                     F.col("w.rb").alias("w"), F.col("w.szb").alias("szw"),
                     F.col("w.vb").alias("vw"),
                     F.col("w.ab_r").alias("aw_r"),
                     F.col("w.ab_c").alias("aw_c"))
             .localCheckpoint(eager=True))
        # capped fetch = size probe AND driver-path payload in ONE job
        # (the driver CC is edge-order-insensitive).  m has at most one
        # row per small region, so n_regions <= cap GUARANTEES the
        # driver path — fetch directly; past that bound, probe with a
        # single narrow column first so an over-cap round never ships
        # ~cap wide rows to the driver just to learn 'distributed'
        if n_regions <= driver_edge_cap:
            mp = m.toPandas()
        else:
            probe = m.select("ra").limit(driver_edge_cap + 1).toPandas()
            mp = m.toPandas() if len(probe) <= driver_edge_cap else probe
        # an over-cap round fetched only the probe, so this count is
        # capped at driver_edge_cap + 1: a lower bound, not the total
        n_merge_capped = len(mp)
        if n_merge_capped == 0:
            break
        terminal = False
        if n_merge_capped <= driver_edge_cap:
            # driver fast path: the merge graph is region-METADATA
            # sized (one row per merging small region); components via
            # vectorized min-label propagation + pointer jumping in
            # numpy (the dict union-find was the slowest driver step)
            ra_a = mp["ra"].to_numpy(np.int64)
            w_a = mp["w"].to_numpy(np.int64)
            nodes = np.unique(np.concatenate([ra_a, w_a]))
            ia = np.searchsorted(nodes, ra_a)
            ib = np.searchsorted(nodes, w_a)
            nn = len(nodes)
            sz_n = np.empty(nn, np.int64)
            ar_n = np.empty(nn, np.int64)
            ac_n = np.empty(nn, np.int64)
            vl_n = np.empty(nn, np.float64)
            sz_n[ib] = mp["szw"].to_numpy(np.int64)
            ar_n[ib] = mp["aw_r"].to_numpy(np.int64)
            ac_n[ib] = mp["aw_c"].to_numpy(np.int64)
            vl_n[ib] = mp["vw"].to_numpy(np.float64)
            sz_n[ia] = mp["sza"].to_numpy(np.int64)
            ar_n[ia] = mp["aa_r"].to_numpy(np.int64)
            ac_n[ia] = mp["aa_c"].to_numpy(np.int64)
            vl_n[ia] = mp["va"].to_numpy(np.float64)
            lab = np.arange(nn, dtype=np.int64)
            while True:
                l2 = lab.copy()
                np.minimum.at(l2, ia, lab[ib])
                np.minimum.at(l2, ib, lab[ia])
                l2 = l2[l2]
                if np.array_equal(l2, lab):
                    break
                lab = l2
            while True:           # full compression
                l2 = lab[lab]
                if np.array_equal(l2, lab):
                    break
                lab = l2
            # rep per component = min by (-sz, anchor); anchors are
            # first-cell scan positions, globally unique => total order
            order = np.lexsort((ac_n, ar_n, -sz_n, lab))
            slab = lab[order]
            first = np.ones(nn, bool)
            first[1:] = slab[1:] != slab[:-1]
            uniq = slab[first]
            rep_node_idx = order[first]
            pos = np.searchsorted(uniq, lab)
            rep_idx = rep_node_idx[pos]
            comp_sz = np.zeros(len(uniq), np.int64)
            np.add.at(comp_sz, pos, sz_n)
            # fixpoint detection WITHOUT another round: all remaining
            # small regions are either neighborless (never in any m) or
            # this round's unions — if every union is >= threshold the
            # next m is provably empty, so skip the S/E rebuilds AND
            # the empty-probe round entirely
            terminal = bool((comp_sz >= threshold).all())
            mask = rep_idx != np.arange(nn)
            froms = nodes[mask]
            tos = nodes[rep_idx[mask]]
            if drv_ok:
                step_d = dict(zip(froms.tolist(), tos.tolist()))
                for o, c in drv_map.items():
                    nc = step_d.get(c)
                    if nc is not None:
                        drv_map[o] = nc
                for f, t in step_d.items():
                    if f not in drv_map:
                        drv_map[f] = t
                for x, v in zip(nodes.tolist(), vl_n.tolist()):
                    drv_val[x] = v
            if terminal and drv_ok:
                break
            step = spark.createDataFrame(
                pd.DataFrame({"m_from": pd.array(froms, dtype="int64"),
                              "m_to": pd.array(tos, dtype="int64")}))
            # the step table is <= driver_edge_cap rows by construction:
            # broadcast it so the S/E/mapping relabels never shuffle
            step = F.broadcast(step)
        else:
            comp = _merge_labels_distributed(
                m.select(F.col("ra").alias("la"), F.col("w").alias("lb")))
            # (the metadata columns on m are unused on this path)
            msz = comp.join(S.select(F.col("region_id").alias("label"),
                                     "sz", "a_r", "a_c"), "label")
            rep = msz.groupBy("root").agg(
                F.expr("min_by(label, struct(-sz, a_r, a_c))").alias("rep"))
            step = (comp.join(rep, "root")
                    .select(F.col("label").alias("m_from"),
                            F.col("rep").alias("m_to"))
                    .filter(F.col("m_from") != F.col("m_to"))
                    .localCheckpoint(eager=True))
        if not (n_merge_capped <= driver_edge_cap) or not drv_ok:
            # maintain the changed-only mapping as a DataFrame: a
            # m_from is always a LIVE current id, never a previously
            # absorbed one, so remap-then-append never duplicates origs
            if drv_ok:  # flush the driver-composed prefix exactly once
                drv_ok = False
                if drv_map:
                    changed = spark.createDataFrame(
                        pd.DataFrame({
                            "orig": pd.array(list(drv_map), dtype="int64"),
                            "cur": pd.array(list(drv_map.values()),
                                            dtype="int64")}))
            if changed is None:
                changed = step.select(F.col("m_from").alias("orig"),
                                      F.col("m_to").alias("cur"))
            else:
                changed = (changed.join(
                    step.withColumnRenamed("m_from", "cur"), "cur", "left")
                    .select("orig", F.coalesce("m_to", "cur").alias("cur"))
                    .unionByName(step.select(
                        F.col("m_from").alias("orig"),
                        F.col("m_to").alias("cur"))))
            changed = changed.localCheckpoint(eager=True)
        if terminal:
            break
        relab = (S.join(step.withColumnRenamed("m_from", "region_id"),
                        "region_id", "left")
                 .select(F.col("region_id").alias("old"),
                         F.coalesce("m_to", "region_id").alias("region_id"),
                         "sz", "value", "a_r", "a_c"))
        # exactly one member of each merged group keeps old == new id
        # (the representative) — its value wins; the merged anchor is
        # the earliest member anchor (scan order)
        S = relab.groupBy("region_id").agg(
            F.sum("sz").alias("sz"),
            F.max(F.when(F.col("old") == F.col("region_id"),
                         F.col("value"))).alias("value"),
            F.min("a_r").alias("min_ar"),
            F.expr("min_by(a_c, struct(a_r, a_c))").alias("a_c"),
        ).withColumnRenamed("min_ar", "a_r").localCheckpoint(eager=True)
        for side in ("ra", "rb"):
            E = (E.join(step.withColumnRenamed("m_from", side),
                        side, "left")
                 .withColumn(side, F.coalesce("m_to", side)).drop("m_to"))
        E = E.filter(F.col("ra") != F.col("rb")).distinct().localCheckpoint(
            eager=True)
    else:
        raise RuntimeError(f"sieve: no fixpoint after {max_rounds} rounds")
    base = L.select("row", "col", "value", F.col("region_id").alias("orig"))
    if drv_ok:
        # all rounds took the driver path: ONE broadcast left join
        # carries both the new id and the rep's original value
        if not drv_map:
            return base.select("row", "col", "value",
                               F.col("orig").alias("region_id"))
        ch = spark.createDataFrame(pd.DataFrame({
            "orig": pd.array(list(drv_map), dtype="int64"),
            "cur": pd.array(list(drv_map.values()), dtype="int64"),
            "vnew": pd.array([drv_val[c] for c in drv_map.values()],
                             dtype="float64")}))
        return (base.join(F.broadcast(ch), "orig", "left")
                .select("row", "col",
                        F.coalesce("vnew", "value").alias("value"),
                        F.coalesce("cur", "orig").alias("region_id")))
    # distributed rounds happened: values via the original region table
    out = (base.drop("value")
           .join(changed, "orig", "left")
           .withColumn("cur", F.coalesce("cur", "orig")))
    return (out.join(S0.select(F.col("region_id").alias("cur"), "value"),
                     "cur")
            .select("row", "col", "value", F.col("cur").alias("region_id")))


def _merge_labels_distributed(eset: DataFrame) -> DataFrame:
    """Connected components of the cross-tile label graph, entirely
    executor-side: alternating min-neighbor propagation and pointer
    jumping (hash-to-min style), O(log diameter) rounds, each round a
    pair of hash joins on the (small relative to the raster) edge set.
    Input: distinct (la, lb) edges. Returns (label, root) with root =
    the component-minimum label, for every label on a cross-tile edge.

    Correctness: comp values only decrease and are bounded below by the
    component min; at a fixpoint each symmetric edge forces comp[a] ==
    comp[b], so comp is constant per component, and the constant c is a
    member label with comp[c] == c, hence c == min. localCheckpoint per
    round truncates the lineage so round k doesn't replan rounds 1..k-1.
    """
    # canonicalize (a < b) + distinct + checkpoint ONCE, then symmetrize
    # from the checkpoint: `eset union swap(eset) distinct` executed the
    # whole eset subtree twice (once per union branch) — when the caller
    # passes merge='distributed' explicitly, eset is the un-checkpointed
    # border band joins, so the doubling was a full extra pass over the
    # labeled table.  The symmetric union of a distinct a<b set (la==lb
    # excluded) needs no second distinct.
    canon = (eset.filter(F.col("la") != F.col("lb"))
             .select(F.least("la", "lb").alias("la"),
                     F.greatest("la", "lb").alias("lb"))
             .distinct().localCheckpoint(eager=True))
    sym = canon.unionByName(
        canon.select(F.col("lb").alias("la"), F.col("la").alias("lb")))
    # scale-adaptive layout: the label graph is usually orders smaller
    # than the raster, and the per-round joins then cost task-scheduling
    # overhead, not data — coalesce (narrow, no shuffle) to ~2M edges
    # per partition so a small graph runs single-task rounds while a
    # 100-TB border graph keeps its parallelism
    n_edges = 2 * canon.count()
    cur_parts = sym.rdd.getNumPartitions()
    p = max(1, min(cur_parts, int(n_edges // 2_000_000) + 1))
    if p < cur_parts:
        sym = sym.coalesce(p)
    # scale-adaptive join strategy: comp has <= 2·n_edges rows, so for a
    # small graph every per-round join broadcasts its small side (one
    # shuffle per round — the groupBy — instead of three); a 100-TB
    # border graph keeps the shuffle joins
    small_graph = n_edges <= 1_000_000

    def _b(df):
        return F.broadcast(df) if small_graph else df

    comp = (
        sym.groupBy("la")
        .agg(F.min("lb").alias("m"))
        .select(F.col("la").alias("node"), F.least("la", "m").alias("comp"))
        .localCheckpoint(eager=True)
    )
    def step(cur):
        # neighbor-min propagation: comp'[a] = min(comp[a], min_b comp[b])
        nb = (
            sym.join(
                _b(cur.select(F.col("node").alias("lb"), F.col("comp").alias("cb"))), "lb"
            )
            .groupBy("la")
            .agg(F.min("cb").alias("nmin"))
        )
        c1 = cur.join(_b(nb.withColumnRenamed("la", "node")), "node", "left").select(
            "node", F.least("comp", F.coalesce("nmin", "comp")).alias("comp")
        )
        # pointer jump: comp''[x] = comp'[comp'[x]] (comp' values are
        # themselves nodes, so the inner self-join always matches)
        return (
            c1.alias("x")
            .join(_b(c1.alias("p")), F.col("x.comp") == F.col("p.node"))
            .select(F.col("x.node").alias("node"), F.col("p.comp").alias("comp"))
        )

    # comp is per-node monotone non-increasing and bounded below, so
    # Σcomp is stationary iff every node is stationary — one cheap agg
    # per round replaces a join-based changed check (the label graph is
    # orders smaller than the raster, so rounds cost scheduling
    # overhead, not data; fewer/narrower jobs per round win).  The sum
    # runs in decimal(38,0): labels pack tile coords into high bits
    # (ty<<40), so a BIGINT sum over a large border-label set overflows
    # int64 — an ANSI ARITHMETIC_OVERFLOW crash at exactly the scale
    # this plan targets
    prev = None
    while True:
        comp = step(comp).localCheckpoint(eager=True)
        row = comp.agg(F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")).collect()[0]
        if row["s"] == prev:
            break
        prev = row["s"]
    return comp.select(F.col("node").alias("label"), F.col("comp").alias("root"))


def polygonize_labels(
    px: DataFrame,
    connectivity: int = 4,
    merge: str = "auto",
    driver_edge_cap: int = 500_000,
    _return_border: bool = False,
):
    """Per-cell connected-component labels of equal-value regions
    (rasterio.features.shapes semantics: 4-connectivity, equal value).
    Returns (row, col, value, region_id).

    Two-phase distributed CC: per-tile labeling in numpy
    (applyInPandas), then cross-tile label merging on the border
    adjacency set. merge='distributed' runs executor-side min-label
    propagation (_merge_labels_distributed) — the 100-TB path: the edge
    set is O(cross-tile boundary length of equal-value runs), which for
    a large uniform field is ~n_pixels/tile and must never land on the
    driver. merge='driver' is the small-case fast path (collect +
    union-find, one job instead of O(log diameter) rounds);
    merge='auto' counts the edge set and picks driver iff it is under
    `driver_edge_cap` rows. connectivity: 4 (edge-sharing, the
    rasterio default) or 8 (corner-sharing included).

    ``_return_border`` (internal, sieve): the band joins drop the
    value-equality key and carry both values, the raw any-value border
    pair set is checkpointed, and the return becomes
    ``(labels_df, raw_border_df, root_map_df_or_None, labeled_cache)``
    — one border pass serving both the equal-value merge and the
    caller's region adjacency; the caller owns unpersisting the cache
    once it has materialized the labels.
    """
    if connectivity not in (4, 8):
        raise ValueError("connectivity must be 4 or 8")
    if merge not in ("auto", "driver", "distributed"):
        raise ValueError("merge must be auto|driver|distributed")
    spark = px.sparkSession
    tile = _CC_TILE

    keyed = px.withColumn("trow", F.floor(F.col("row") / tile).cast("int")).withColumn(
        "tcol", F.floor(F.col("col") / tile).cast("int")
    )

    def label_tile(key, pdf: pd.DataFrame) -> pd.DataFrame:
        # vectorized two-pass run labeling (replaces a per-pixel Python
        # BFS): horizontal equal-value runs get ids from one cumsum;
        # runs touching vertically (and diagonally for connectivity=8)
        # union via find-union over the DEDUPED pair set (a few hundred
        # pairs per tile, not one Python step per pixel). Label VALUES
        # differ from the old BFS order, but every consumer (gates,
        # driver-vs-distributed test) treats labels as opaque per-region
        # tokens, and both merge modes share this same labeler.
        ty, tx = int(key[0]), int(key[1])
        r = pdf["row"].to_numpy(np.int64) - ty * tile
        c = pdf["col"].to_numpy(np.int64) - tx * tile
        v = pdf["value"].to_numpy()
        grid = np.full((tile, tile), np.nan)
        grid[r, c] = v
        filled = ~np.isnan(grid)
        start = filled.copy()
        start[:, 1:] = filled[:, 1:] & ~(
            filled[:, :-1] & (grid[:, 1:] == grid[:, :-1])
        )
        run = np.where(
            filled, np.cumsum(start.ravel()).reshape(tile, tile) - 1, -1
        )
        nrun = int(start.sum())
        parent = np.arange(nrun, dtype=np.int64)

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union_mask(sl_a, sl_b, mask):
            pa, pb = run[sl_a][mask], run[sl_b][mask]
            if not len(pa):
                return
            for x, y in np.unique(np.stack([pa, pb], 1), axis=0):
                rx, ry = find(int(x)), find(int(y))
                if rx != ry:
                    parent[max(rx, ry)] = min(rx, ry)

        dn = (slice(1, None), slice(None))
        up = (slice(None, -1), slice(None))
        union_mask(dn, up, filled[dn] & filled[up] & (grid[dn] == grid[up]))
        if connectivity == 8:
            se = (slice(1, None), slice(1, None))
            nw = (slice(None, -1), slice(None, -1))
            union_mask(se, nw, filled[se] & filled[nw] & (grid[se] == grid[nw]))
            sw = (slice(1, None), slice(None, -1))
            ne = (slice(None, -1), slice(1, None))
            union_mask(sw, ne, filled[sw] & filled[ne] & (grid[sw] == grid[ne]))
        # full path compression, vectorized (find() keeps chains short)
        while True:
            p2 = parent[parent]
            if np.array_equal(p2, parent):
                break
            parent = p2
        cell_run = run[r, c]
        if nrun:
            # -1 wraps to parent[-1] but is masked back to -1 below
            lab = np.where(cell_run >= 0, parent[cell_run], np.int64(-1))
        else:  # every provided cell had a NaN value
            lab = np.full(len(cell_run), -1, dtype=np.int64)
        gl = (np.int64(ty) << 40) | (np.int64(tx) << 24)  # globally unique label base
        out = pd.DataFrame(
            {
                "row": pdf["row"].to_numpy(np.int64),
                "col": pdf["col"].to_numpy(np.int64),
                "value": v.astype(np.float64),
                "label": gl | lab,
            }
        )
        return out

    labeled = keyed.groupBy("trow", "tcol").applyInPandas(
        label_tile, schema="row long, col long, value double, label long"
    ).cache()

    # border adjacencies: cells on tile edges joined to right/down pixels
    a = labeled.select("row", "col", "value", F.col("label").alias("la"))
    b = labeled.select(
        (F.col("row")).alias("row_b"), (F.col("col")).alias("col_b"),
        F.col("value").alias("vb"), F.col("label").alias("lb"),
    )
    # cross-tile adjacency directions + the border-band prefilter for
    # BOTH sides (only cells whose neighbor can be in another tile
    # join, and only cells a border cell can reach are join targets —
    # without the right-side band the full pixel table shuffles per
    # direction; with it both sides are O(border))
    dirs = [
        ((0, 1), (F.col("col") + 1) % tile == 0,
         F.col("col_b") % tile == 0),
        ((1, 0), (F.col("row") + 1) % tile == 0,
         F.col("row_b") % tile == 0),
    ]
    if connectivity == 8:
        dirs += [
            ((1, 1),
             ((F.col("row") + 1) % tile == 0) | ((F.col("col") + 1) % tile == 0),
             (F.col("row_b") % tile == 0) | (F.col("col_b") % tile == 0)),
            ((1, -1),
             ((F.col("row") + 1) % tile == 0) | (F.col("col") % tile == 0),
             (F.col("row_b") % tile == 0) | ((F.col("col_b") + 1) % tile == 0)),
        ]
    edges = []
    for (dr, dc), band, band_b in dirs:
        cond = (F.col("row") + dr == F.col("row_b")) \
            & (F.col("col") + dc == F.col("col_b"))
        if _return_border:
            # r7 shared-border mode (sieve): join on POSITION only and
            # carry both values — the same single pass then serves the
            # equal-value merge edges (filter below) AND the caller's
            # any-value region adjacency, instead of two band-join
            # passes over the labels
            e = (a.filter(band).join(b.filter(band_b), cond)
                 .select("la", "lb", "value", "vb"))
        else:
            e = (a.filter(band)
                 .join(b.filter(band_b),
                       cond & (F.col("value") == F.col("vb")))
                 .select("la", "lb"))
        edges.append(e)
    eset = edges[0]
    for e in edges[1:]:
        eset = eset.unionByName(e)
    raw = None
    if _return_border:
        raw = eset.localCheckpoint(eager=True)
        eset = raw.filter(F.col("value") == F.col("vb")).select("la", "lb")
    eset = eset.distinct()

    if merge == "auto":
        # the auto decision needs a count AND the chosen path reads the
        # edges again (toPandas / sym) — checkpoint once so the border
        # band joins over the labeled cache run a single time
        eset = eset.localCheckpoint(eager=True)
        merge = "driver" if eset.count() <= driver_edge_cap else "distributed"

    map_df = None
    if merge == "distributed":
        map_df = _merge_labels_distributed(eset)
        # roots table is O(#border labels) and already checkpointed by
        # the merge — count it (cheap) and broadcast when small so the
        # full pixel table is never shuffled just to pick up its root
        if map_df.count() <= 2_000_000:
            map_df = F.broadcast(map_df)
        final = labeled.join(map_df, "label", "left").withColumn(
            "region_id", F.coalesce("root", "label")
        )
        if _return_border:
            return (final.select("row", "col", "value", "region_id"),
                    raw, map_df, labeled)
    else:
        # small-case fast path: union-find on the driver (one job)
        epdf = eset.toPandas()
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for la, lb in zip(epdf["la"], epdf["lb"]):
            ra, rb = find(int(la)), find(int(lb))
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        mapping = {k: find(k) for k in list(parent)}
        if mapping:
            map_df = F.broadcast(spark.createDataFrame(
                pd.DataFrame({"label": list(mapping), "root": [mapping[k] for k in mapping]}),
                "label long, root long",
            ))
            final = labeled.join(map_df, "label", "left").withColumn(
                "region_id", F.coalesce("root", "label")
            )
        else:
            final = labeled.withColumn("region_id", F.col("label"))
        if _return_border:
            return (final.select("row", "col", "value", "region_id"),
                    raw, map_df, labeled)

    return final.select("row", "col", "value", "region_id")


def squares(px: DataFrame, origin: tuple[float, float], cellsize: tuple[float, float]) -> DataFrame:
    """to_geopandas(..) per-pixel `squares` variant (georasters.py:
    1717-1721): one axis-aligned square per cell. Pure Column
    arithmetic — the corner coordinates are bit-identical to any engine
    computing x0+col*cx / +cx. Returns (row, col, value, x0, y0, x1,
    y1) with (x0,y0) the cell's raster-origin corner."""
    xg, yg = origin
    cx, cy = cellsize
    x0 = F.lit(xg) + F.col("col") * F.lit(cx)
    y0 = F.lit(yg) + F.col("row") * F.lit(cy)
    return px.select(
        "row", "col", F.col("value").cast("long").alias("value"),
        x0.alias("x0"), y0.alias("y0"),
        (x0 + F.lit(cx)).alias("x1"), (y0 + F.lit(cy)).alias("y1"),
    )


def polygonize_geoms(
    px: DataFrame,
    origin: tuple[float, float],
    cellsize: tuple[float, float],
    connectivity: int = 4,
    merge: str = "auto",
) -> DataFrame:
    """Region POLYGON rings (to_geopandas parity, georasters.py:
    1723-1738): per-region WKT with outer ring + holes, assembled from
    directed boundary edges.

    Plan: label cells (polygonize_labels) → four LEFT-ANTI joins emit a
    directed boundary edge for each cell side whose same-region
    neighbor is absent (interior kept on a consistent side, so edges of
    a region form closed cycles; internal edges never materialize) →
    groupBy(region).applyInPandas stitches cycles with a sharpest-turn
    rule at pinch vertices, classifies the max-|shoelace| ring as the
    outer shell and the rest as holes. Per-task memory is O(region
    perimeter), not O(region area)."""
    spark = px.sparkSession
    lab = polygonize_labels(px, connectivity, merge=merge).persist()
    lab.count()  # materialize BEFORE the 4 join branches race to compute it
    a = lab.select("region_id", "row", "col", "value")
    bn = lab.select(
        F.col("region_id").alias("rid_b"), F.col("row").alias("row_b"),
        F.col("col").alias("col_b"),
    )
    # directed edges in corner-lattice coords (x=col, y=row, y grows
    # DOWN): traversal keeps the region interior on the right in this
    # frame, which is CCW in world coords (celly < 0 flips y)
    sides = [
        # (dr, dc of the missing neighbor, edge start, edge end) in corner space
        ((-1, 0), ("col", "row"), ("col+1", "row")),          # top
        ((0, 1), ("col+1", "row"), ("col+1", "row+1")),       # right
        ((1, 0), ("col+1", "row+1"), ("col", "row+1")),       # bottom
        ((0, -1), ("col", "row+1"), ("col", "row")),          # left
    ]
    edges = None
    for (dr, dc), (sx, sy), (ex, ey) in sides:
        missing = a.join(
            bn,
            (F.col("row") + dr == F.col("row_b"))
            & (F.col("col") + dc == F.col("col_b"))
            & (F.col("region_id") == F.col("rid_b")),
            "left_anti",
        )
        e = missing.selectExpr(
            "region_id", "value",
            f"CAST({sx} AS BIGINT) AS sx", f"CAST({sy} AS BIGINT) AS sy",
            f"CAST({ex} AS BIGINT) AS ex", f"CAST({ey} AS BIGINT) AS ey",
        )
        edges = e if edges is None else edges.unionByName(e)

    xg, yg = origin
    cx, cy = cellsize

    def stitch_one(rid: int, pdf: pd.DataFrame) -> dict:
        import collections

        val = float(pdf["value"].iloc[0])
        out_edges = collections.defaultdict(list)  # start vertex -> edges
        for t in pdf.itertuples(index=False):
            out_edges[(int(t.sx), int(t.sy))].append((int(t.ex), int(t.ey)))
        rings = []
        # deterministic start order
        starts = sorted(out_edges)
        used = set()
        for s in starts:
            while out_edges[s]:
                ring = [s]
                cur = s
                prev_dir = None
                while True:
                    cands = out_edges[cur]
                    if not cands:
                        break
                    if len(cands) == 1 or prev_dir is None:
                        nxt = min(cands)
                    else:
                        # pinch vertex: prefer the sharpest RIGHT turn
                        # relative to the incoming direction so separate
                        # lobes stitch into separate rings
                        def turn(c):
                            dx, dy = c[0] - cur[0], c[1] - cur[1]
                            # cross/dot of prev_dir x new_dir
                            cr = prev_dir[0] * dy - prev_dir[1] * dx
                            dt = prev_dir[0] * dx + prev_dir[1] * dy
                            import math as _m
                            return _m.atan2(cr, dt)
                        nxt = min(cands, key=lambda c: (turn(c), c))
                    cands.remove(nxt)
                    ndir = (nxt[0] - cur[0], nxt[1] - cur[1])
                    if prev_dir == ndir:
                        ring[-1] = nxt  # merge collinear run into one segment
                    else:
                        ring.append(nxt)
                    prev_dir = ndir
                    cur = nxt
                    if cur == ring[0]:
                        break
                if len(ring) > 3 and ring[0] == ring[-1]:
                    # seam collinearity: the start vertex may sit mid-edge
                    d_first = (ring[1][0] - ring[0][0], ring[1][1] - ring[0][1])
                    d_last = (ring[-1][0] - ring[-2][0], ring[-1][1] - ring[-2][1])
                    if d_first == d_last and len(ring) > 4:
                        ring = ring[1:-1] + [ring[1]]
                    rings.append(ring)
        # shoelace in corner space; outer = max |area|
        def area2(r):
            s = 0
            for (x1, y1), (x2, y2) in zip(r, r[1:]):
                s += x1 * y2 - x2 * y1
            return s
        if not rings:
            return None
        areas = [area2(r) for r in rings]
        order = sorted(range(len(rings)), key=lambda i: -abs(areas[i]))
        net_cells = sum(areas) // 2  # holes subtract; |…| = n_cells (sign per frame)
        # total stitched boundary length in unit steps — every input
        # boundary edge must land in exactly one closed ring, so this
        # equals 4·n_cells − 2·(internal 4-adjacencies); the SQL oracle
        # recomputes that from the CC labels, making perim_steps an
        # exact structural check on the ring stitching itself
        perim = sum(
            abs(x2 - x1) + abs(y2 - y1)
            for r in rings
            for (x1, y1), (x2, y2) in zip(r, r[1:])
        )

        def fmt_ring(r):
            pts = ", ".join(
                f"{xg + x * cx:.10g} {yg + y * cy:.10g}" for x, y in r
            )
            return f"({pts})"

        wkt = "POLYGON (" + ", ".join(fmt_ring(rings[i]) for i in order) + ")"
        return {"region_id": rid, "value": val, "n_rings": len(rings),
                "area_cells": abs(int(net_cells)), "perim_steps": int(perim),
                "wkt": wkt}

    cols = ["region_id", "value", "n_rings", "area_cells", "perim_steps", "wkt"]

    def stitch_partition(batches):
        # one pandas groupby per PARTITION (regions are hash-complete
        # within a partition), not one applyInPandas group per region —
        # 5k single-row pandas frames would dominate the runtime
        parts = list(batches)
        if not parts:
            yield pd.DataFrame(columns=cols)
            return
        pdf = pd.concat(parts)
        rows = [r for rid, g in pdf.groupby("region_id")
                if (r := stitch_one(int(rid), g)) is not None]
        yield pd.DataFrame(rows, columns=cols)

    out = edges.repartition(32, "region_id").mapInPandas(
        stitch_partition,
        schema="region_id long, value double, n_rings long, area_cells long, "
               "perim_steps long, wkt string",
    ).localCheckpoint(eager=True)  # small (one row per region)
    lab.unpersist()
    return out


def histogram_equalize(px: DataFrame, levels: int = 256) -> DataFrame:
    """Histogram equalization — the ``gdalenhance -equalize`` role.

    out(v) = floor((cdf(v) − cdf_min) / (N − cdf_min) · (levels−1) + 0.5)

    with cdf over the VALID pixel values and cdf_min the lowest
    bucket's count (the classic equalization LUT).  A constant image
    (N == cdf_min) maps to 0.

    Plan: one map-side-combined groupBy(value) builds the value-count
    table — bounded by the value DOMAIN (int16 ⇒ ≤65k rows), never by
    pixel count — a single window over that metadata-scale table forms
    the CDF, and the LUT broadcasts back onto the pixel scan.  Pixels
    cross exactly one exchange (the count partial-agg, rows = domain ×
    partitions); the LUT join is a BroadcastHashJoin.
    """
    # mask ≅ NULL: a NULL bucket would contaminate cdf_min and N (the
    # LUT would shift every level) — NULL pixels neither count nor emit
    px = px.filter(F.col("value").isNotNull())
    counts = px.groupBy("value").agg(F.count("*").alias("cnt"))
    # domain-bounded table: a global window here is O(|domain| log) on
    # one task, not a pixel-table sort (see gini_agg for the pixel-scale
    # alternative when the domain is unbounded)
    cdf = counts.withColumn("cdf", F.sum("cnt").over(W.orderBy("value")))
    bounds = cdf.agg(F.max("cdf").alias("tot"), F.min("cdf").alias("cdfmin"))
    lut = cdf.crossJoin(F.broadcast(bounds)).select(
        "value",
        F.when(F.col("tot") == F.col("cdfmin"), F.lit(0).cast("long"))
         .otherwise(F.floor(
             (F.col("cdf") - F.col("cdfmin")).cast("double")
             / (F.col("tot") - F.col("cdfmin"))
             * F.lit(float(levels - 1)) + F.lit(0.5)).cast("long"))
         .alias("eq"),
    )
    return px.join(F.broadcast(lut), "value").drop("value") \
             .withColumnRenamed("eq", "value")


def histogram_equalize_sql(px_cte: str, levels: int = 256,
                           keys: str = "row, col") -> str:
    """DuckDB oracle for histogram_equalize over a ``px(row, col,
    value)`` CTE — mirrors the CDF/LUT arithmetic term for term."""
    return f"""WITH {px_cte},
counts AS (SELECT value, COUNT(*) AS cnt FROM px GROUP BY value),
cdf AS (SELECT value, SUM(cnt) OVER (ORDER BY value) AS cdf FROM counts),
bounds AS (SELECT MAX(cdf) AS tot, MIN(cdf) AS cdfmin FROM cdf),
lut AS (SELECT value,
               CASE WHEN tot = cdfmin THEN 0
                    ELSE CAST(FLOOR(CAST(cdf - cdfmin AS DOUBLE)
                              / (tot - cdfmin) * {float(levels - 1)!r} + 0.5)
                         AS BIGINT) END AS eq
        FROM cdf CROSS JOIN bounds)
SELECT {keys}, lut.eq AS value
FROM px JOIN lut ON lut.value = px.value"""


def linear_rescale(px: DataFrame, dst: tuple[float, float] = (0.0, 255.0),
                   src: tuple[float, float] | None = None) -> DataFrame:
    """Linear rescale — the ``gdal_translate -scale`` role.

    out = floor((v − src_min) · (dst_hi − dst_lo)/(src_max − src_min)
                + dst_lo + 0.5)

    With ``src=None`` the source bounds come from the data (one global
    aggregate broadcast back — gdal_translate's default); a constant
    image maps to dst_lo.  Pixels never shuffle: the bounds row is a
    BroadcastNestedLoopJoin onto the scan and the affine map is a
    codegen Column.
    """
    dlo, dhi = float(dst[0]), float(dst[1])
    if src is None:
        bounds = px.agg(F.min("value").alias("_smin"),
                        F.max("value").alias("_smax"))
        out = px.crossJoin(F.broadcast(bounds))
    else:
        out = px.withColumn("_smin", F.lit(src[0])) \
                .withColumn("_smax", F.lit(src[1]))
    # constant image: the SAME floor(x+0.5) rule as the affine branch
    # (int() would truncate toward zero for fractional/negative dst_lo)
    const_out = int(math.floor(dlo + 0.5))
    scaled = F.when(
        F.col("_smax") == F.col("_smin"), F.lit(const_out).cast("long")
    ).otherwise(
        F.floor((F.col("value") - F.col("_smin")).cast("double")
                * F.lit(dhi - dlo) / (F.col("_smax") - F.col("_smin"))
                + F.lit(dlo) + F.lit(0.5)).cast("long"))
    return out.withColumn("value", scaled).drop("_smin", "_smax")


def linear_rescale_sql(px_cte: str, dst: tuple[float, float] = (0.0, 255.0),
                       keys: str = "row, col") -> str:
    """DuckDB oracle for linear_rescale (data-derived bounds)."""
    dlo, dhi = float(dst[0]), float(dst[1])
    return f"""WITH {px_cte},
b AS (SELECT MIN(value) AS smin, MAX(value) AS smax FROM px)
SELECT {keys},
       CASE WHEN smax = smin THEN CAST({int(math.floor(dlo + 0.5))} AS BIGINT)
            ELSE CAST(FLOOR(CAST(value - smin AS DOUBLE) * {dhi - dlo!r}
                            / (smax - smin) + {dlo!r} + 0.5) AS BIGINT)
       END AS value
FROM px CROSS JOIN b"""
