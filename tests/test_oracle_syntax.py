"""Every oracle twin must BIND in DuckDB against the driver's table set.

The full execute-and-hash check lives in tools/check_oracle.py (minutes,
Spark + DuckDB); nothing in `pytest tests/` previously validated the
twins at all, so a twin could drift (stale column, bad function name,
syntax slip from an edit to the DF side) and only surface at the
driver's gate — or, for documented-but-unexecuted clauses, never
(ADVICE r15 #1 found 11 twins carrying a trailing ORDER BY their DF
side had dropped). EXPLAIN binds names, types, and functions without
executing, so this guard is seconds, not minutes, and runs in-suite.

No Spark needed: DuckDB plans against zero-row views that keep the real
parquet schemas.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_SF = os.environ.get("SPARK_GRAFT_SYNTAX_SF", "/root/testdata/sf0.001")
_TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


@pytest.fixture(scope="module")
def oracle_con():
    if not os.path.isdir(_SF):
        pytest.skip(f"testdata not present: {_SF}")
    con = duckdb.connect()
    for t in _TABLES:
        # LIMIT 0 keeps the real schema while making any accidental
        # execution free
        con.execute(
            f"CREATE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{_SF}/{t}.parquet') LIMIT 0"
        )
    return con


def test_every_oracle_twin_binds(oracle_con):
    import __spark_entry__ as e

    oracles = e.oracle_sql()
    assert oracles, "oracle_sql() returned nothing"
    failures = []
    for name, sql in sorted(oracles.items()):
        try:
            oracle_con.execute("EXPLAIN " + sql)
        except Exception as ex:  # noqa: BLE001 — collect all, report once
            failures.append(f"{name}: {str(ex).splitlines()[0][:160]}")
    assert not failures, (
        f"{len(failures)} oracle twins no longer bind in DuckDB:\n"
        + "\n".join(failures)
    )


def test_no_twin_ends_with_cosmetic_order_by(oracle_con):
    """A trailing ORDER BY in a twin whose DF side does not sort is
    documentation drift (the driver sorts rows before hashing, so it
    can never be load-bearing there): keep the twin mirroring the
    executed plan. DF sides that DO sort keep their ORDER BY."""
    import inspect

    import __spark_entry__ as e
    from clockpipe_spark.queries import all_queries

    qs = all_queries()
    stale = []
    for name, sql in sorted(e.oracle_sql().items()):
        lines = [ln.strip() for ln in sql.strip().splitlines() if ln.strip()]
        if not (lines and lines[-1].upper().startswith("ORDER BY")):
            continue
        src = inspect.getsource(qs[name])
        if ".orderBy(" not in src and ".sort(" not in src:
            stale.append(name)
    assert not stale, (
        "twins with a trailing ORDER BY whose DF side does not sort "
        f"(drop it or sort the DF): {stale}"
    )
