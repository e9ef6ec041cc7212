"""Preconditions + parity pins for the r11 hash-family oracles
(approximate.DEDUP_SIMHASH_SQL / DEDUP_MINHASH_SQL).

The SQL replays are exact ONLY under corpus properties the synthetic
documents table satisfies; these tests turn those assumptions into
failures if the testdata generator ever changes:

- no whitespace-only docs (Python's tokenizer keeps them at sig=0,
  DuckDB's empty group drops them);
- pure ASCII (Python str.lower() vs SQL lower() agree).

Plus the hash-primitive pin itself: DuckDB ``md5_number_upper`` must
equal Python ``int.from_bytes(md5(t).digest()[:8], 'little')`` (the
simhash token hash, operators/neardup.py), and the 0x-hex-prefix cast
must equal Spark's ``conv(substring(md5(x),1,8),16,10)`` rendering
(the MinHash shingle hash).
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import pytest

SFS = [d for d in ("sf0.001", "sf0.01", "sf0.1")
       if os.path.isdir(f"/root/testdata/{d}")]


@pytest.mark.parametrize("sf", SFS)
def test_corpus_has_no_whitespace_only_docs(sf):
    con = duckdb.connect()
    n = con.execute(
        f"SELECT count(*) FROM '/root/testdata/{sf}/documents.parquet' "
        "WHERE trim(text) = ''"
    ).fetchone()[0]
    assert n == 0, "simhash oracle drops empty-token docs; Spark keeps them"


@pytest.mark.parametrize("sf", SFS)
def test_corpus_is_pure_ascii(sf):
    con = duckdb.connect()
    n = con.execute(
        f"SELECT count(*) FROM '/root/testdata/{sf}/documents.parquet' "
        r"WHERE regexp_matches(text, '[^\x00-\x7F]')"
    ).fetchone()[0]
    assert n == 0


@pytest.mark.parametrize("token", ["abc", "windowsill", "the", "x" * 40])
def test_md5_number_upper_is_python_le64(token):
    expect = int.from_bytes(hashlib.md5(token.encode()).digest()[:8], "little")
    got = duckdb.connect().execute(
        "SELECT md5_number_upper(?)", [token]
    ).fetchone()[0]
    assert got == expect


@pytest.mark.parametrize("s", ["abc", "quick brown fox", "a,b,c"])
def test_hex_prefix_cast_is_portable_hash32(s):
    expect = int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
    got = duckdb.connect().execute(
        "SELECT CAST(concat('0x', substring(md5(?), 1, 8)) AS BIGINT)", [s]
    ).fetchone()[0]
    assert got == expect


# -- property pins: the md5-primitive agreement is the load-bearing
# assumption under EVERY hash-family oracle; fixed vectors above catch
# endianness regressions, these catch encoding/length edge classes
# (multi-byte utf-8, embedded separators, long strings) -------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_texty = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), min_size=1,
    max_size=200,
)


@settings(max_examples=50, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(_texty)
def test_md5_primitives_agree_for_any_text(s):
    con = duckdb.connect()
    le64, hex32 = con.execute(
        "SELECT md5_number_upper(?),"
        " CAST(concat('0x', substring(md5(?), 1, 8)) AS BIGINT)",
        [s, s],
    ).fetchone()
    digest = hashlib.md5(s.encode()).digest()
    assert le64 == int.from_bytes(digest[:8], "little")
    assert hex32 == int.from_bytes(digest[:4], "big")


@settings(max_examples=30, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(st.lists(st.integers(min_value=0, max_value=(1 << 32) - 1),
                min_size=4, max_size=4))
def test_band_key_rendering_agrees(ms):
    """The band hash input string — concat_ws(',', minhash values) —
    must render identically from BIGINTs in both engines (and from
    Python ints, the reference rendering)."""
    con = duckdb.connect()
    got = con.execute(
        "SELECT concat_ws(',', CAST(? AS BIGINT), CAST(? AS BIGINT),"
        " CAST(? AS BIGINT), CAST(? AS BIGINT))", ms
    ).fetchone()[0]
    assert got == ",".join(str(m) for m in ms)
