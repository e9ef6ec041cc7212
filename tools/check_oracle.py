"""Local twin of the driver's correctness gate: run every queries() entry
on Spark and its oracle on DuckDB at a given sf, compare row counts,
column names, and order-insensitive value frames.

Usage: python tools/check_oracle.py [sf_dir] [name_filter ...]
"""

from __future__ import annotations

import os
import sys
import traceback

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clockpipe_spark.catalog import TABLES
from clockpipe_spark.session import get_spark


def dtype_kind_mismatches(sdf: pd.DataFrame, ddf: pd.DataFrame) -> list[str]:
    """Columns where Spark yields an integer dtype but the oracle yields a
    float dtype (or vice versa).

    This is exactly the class that burned the r6 and r8 driver gates:
    DuckDB promotes sum() to HUGEINT, which lands in pandas as float64, so
    the driver hashes "28000.0" against Spark's "28000" even though every
    value is equal.  The driver compares string renderings, so an
    int-vs-float kind split IS a failure there no matter what the values
    are — make it a failure here too (the old check_dtype=False hid it).
    """
    bad = []
    for c in sdf.columns:
        if c not in ddf.columns:
            continue
        ks, kd = sdf[c].dtype.kind, ddf[c].dtype.kind
        int_kinds = ("i", "u")
        if (ks in int_kinds and kd == "f") or (kd in int_kinds and ks == "f"):
            bad.append(f"{c}: spark={sdf[c].dtype} oracle={ddf[c].dtype}")
    return bad


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # unify dtypes: everything to string via a stable repr per column
    out = pd.DataFrame()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_float_dtype(col):
            out[c] = col.round(6)
        elif pd.api.types.is_datetime64_any_dtype(col):
            out[c] = pd.to_datetime(col).dt.tz_localize(None)
        elif len(col) and isinstance(col.iloc[0], (list, tuple, np.ndarray)):
            out[c] = col.map(
                lambda v: tuple(v.tolist() if isinstance(v, np.ndarray) else v)
            )
        else:
            out[c] = col
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    name_filter = sys.argv[2:]

    spark = get_spark("oracle-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if name_filter and not any(f in name for f in name_filter):
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: spark error")
            traceback.print_exc(limit=3)
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows-only {name}: {len(sdf)} rows")
            n_rowsonly += 1
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception:
            print(f"FAIL {name}: duckdb error")
            traceback.print_exc(limit=3)
            n_fail += 1
            continue
        if sorted(sdf.columns) != sorted(ddf.columns):
            print(f"FAIL {name}: columns {sorted(sdf.columns)} vs {sorted(ddf.columns)}")
            n_fail += 1
            continue
        if len(sdf) != len(ddf):
            print(f"FAIL {name}: rowcount {len(sdf)} vs {len(ddf)}")
            n_fail += 1
            continue
        kind_bad = dtype_kind_mismatches(sdf, ddf)
        if kind_bad:
            print(f"FAIL {name}: int/float dtype-kind mismatch (driver would hash-fail): {kind_bad}")
            n_fail += 1
            continue
        a, b = normalize(sdf), normalize(ddf)
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False, rtol=1e-6, atol=1e-9)
            print(f"PASS {name}: {len(sdf)} rows")
            n_pass += 1
        except AssertionError as ex:
            print(f"FAIL {name}: value mismatch\n{str(ex)[:500]}")
            n_fail += 1
    print(f"\n== {n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
