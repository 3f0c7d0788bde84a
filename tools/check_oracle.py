"""Local stand-in for the driver's CORRECTNESS gate: run every query in
__spark_entry__.queries() and its oracle_sql() in DuckDB, compare
row count + sorted-by-name columns + values (order-insensitive).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), na_position="first").reset_index(drop=True)


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> bool:
    if len(sdf) != len(odf):
        print(f"  ✗ {name}: rowcount {len(sdf)} vs oracle {len(odf)}")
        return False
    if sorted(sdf.columns) != sorted(odf.columns):
        print(f"  ✗ {name}: columns {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        return False
    a, b = canon(sdf), canon(odf)
    ok = True
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if np.issubdtype(np.asarray(av).dtype, np.floating) or np.issubdtype(
            np.asarray(bv).dtype, np.floating
        ):
            av = pd.to_numeric(a[c]).to_numpy(dtype=np.float64)
            bv = pd.to_numeric(b[c]).to_numpy(dtype=np.float64)
            bad = ~((av == bv) | (np.isnan(av) & np.isnan(bv)))
            if bad.any():
                i = int(np.flatnonzero(bad)[0])
                print(f"  ✗ {name}.{c}: {bad.sum()} diffs, first row {i}: {av[i]!r} vs {bv[i]!r}")
                ok = False
        else:
            if not (pd.isna(a[c]) == pd.isna(b[c])).all() or not (
                a[c].fillna("§null§") == b[c].fillna("§null§")
            ).all():
                bad = (a[c].fillna("§") != b[c].fillna("§")).to_numpy()
                i = int(np.flatnonzero(bad)[0])
                print(f"  ✗ {name}.{c}: {bad.sum()} diffs, first row {i}: {a[c].iloc[i]!r} vs {b[c].iloc[i]!r}")
                ok = False
    return ok


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from georasters_spark.session import get_spark

    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs, os_ = E.queries(), E.oracle_sql()
    n_ok = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir).toPandas()
        t1 = time.time()
        if name not in os_:
            print(f"  ~ {name}: no oracle (rows-only check): {len(sdf)} rows  [{t1-t0:.1f}s]")
            continue
        odf = con.sql(os_[name]).df()
        if compare(name, sdf, odf):
            print(f"  ✓ {name}: {len(sdf)} rows match  [spark {t1-t0:.1f}s, oracle {time.time()-t1:.1f}s]")
            n_ok += 1
        else:
            n_fail += 1
    print(f"\n{n_ok} ok, {n_fail} failed")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
