"""Pin the local oracle twin's int/float dtype-kind guard
(tools/check_oracle.py) — the permanent fix for the HUGEINT class that
produced driver hash-reds in r6 (sessionize_lag_gap) and r8 (5 queries):
DuckDB promotes sum() to HUGEINT, which lands in pandas as float64, so
the driver hashes "28000.0" against Spark's "28000" even though every
value is equal.  The old twin compared with check_dtype=False and passed
168/0 while the driver failed 5 — the guard makes the class visible
locally, before it ever reaches the gate (VERDICT r8 directive #2).

No Spark needed: the guard is a pure pandas-frame check.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from check_oracle import dtype_kind_mismatches


def test_hugeint_promotion_is_flagged():
    """The exact r8 failure shape: an integer-intent oracle expression
    built from sum()-arithmetic without a cast reaches pandas as
    float64 while Spark delivers int64."""
    con = duckdb.connect()
    ddf = con.execute(
        "SELECT (sum(x) * 1000000) // count(*) AS ppm "
        "FROM (SELECT 1 AS x UNION ALL SELECT 2)"
    ).fetchdf()
    assert ddf["ppm"].dtype.kind == "f", "precondition: HUGEINT -> float64"
    sdf = pd.DataFrame({"ppm": pd.Series([1500000], dtype="int64")})
    assert dtype_kind_mismatches(sdf, ddf) == ["ppm: spark=int64 oracle=float64"]


def test_cast_bigint_passes():
    """The one-line fix: CAST(... AS BIGINT) keeps the oracle integer."""
    con = duckdb.connect()
    ddf = con.execute(
        "SELECT CAST((sum(x) * 1000000) // count(*) AS BIGINT) AS ppm "
        "FROM (SELECT 1 AS x UNION ALL SELECT 2)"
    ).fetchdf()
    sdf = pd.DataFrame({"ppm": pd.Series([1500000], dtype="int64")})
    assert dtype_kind_mismatches(sdf, ddf) == []


def test_float_meets_float_is_fine():
    sdf = pd.DataFrame({"r": pd.Series([0.5], dtype="float64")})
    ddf = pd.DataFrame({"r": pd.Series([0.5], dtype="float32")})
    assert dtype_kind_mismatches(sdf, ddf) == []


def test_int_meets_int_is_fine():
    sdf = pd.DataFrame({"n": pd.Series([5], dtype="int64")})
    ddf = pd.DataFrame({"n": pd.Series([5], dtype="int32")})
    assert dtype_kind_mismatches(sdf, ddf) == []


def test_spark_float_vs_oracle_int_flagged_too():
    """Symmetric: the driver would render 0.5 vs 0 regardless of which
    side drifted, so both directions must fail locally."""
    sdf = pd.DataFrame({"n": pd.Series([5.0], dtype="float64")})
    ddf = pd.DataFrame({"n": pd.Series([5], dtype="int64")})
    assert dtype_kind_mismatches(sdf, ddf) == ["n: spark=float64 oracle=int64"]
