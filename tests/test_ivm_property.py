"""Property-based check of the incremental-view-maintenance algebra:
cdc_incremental_agg's maintained aggregate must equal a pure-python
recompute over the final replica state for RANDOM changelogs — the
adversarial interleavings are keys created before the S0 bound and
deleted after it, updated on both sides of it, or born-and-killed
entirely inside the delta."""

from __future__ import annotations

import datetime as dt
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from clockpipe_spark.queries.cdc import cdc_incremental_agg

_BASE = dt.datetime(2024, 1, 1)
# op mapping (cdc/changelog.py): signup -> I, error -> D, else -> U
_TYPES = ["signup", "error", "view", "click"]


@st.composite
def changelogs(draw):
    n = draw(st.integers(min_value=1, max_value=40))
    rows = []
    for i in range(n):
        rows.append(
            (
                i,  # event_id = seq, unique and ordered
                _BASE + dt.timedelta(minutes=i),
                draw(st.integers(min_value=0, max_value=5)),  # few keys ->
                draw(st.sampled_from(_TYPES)),  # many create/delete cycles
                draw(
                    st.floats(
                        min_value=-100, max_value=100,
                        allow_nan=False, allow_infinity=False,
                    )
                ),
                "{}",
            )
        )
    return rows


def _write_events(tmpdir, rows):
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pq.write_table(table, str(tmpdir / "events.parquet"))
    return str(tmpdir)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(changelogs())
def test_incremental_agg_equals_recompute(spark, tmp_path_factory, rows):
    sf_dir = _write_events(tmp_path_factory.mktemp("ivm"), rows)
    # pure-python recompute over the final replica state
    last = {}
    for eid, _ts, uid, etype, val, _p in rows:
        last[uid] = (eid, etype, val)  # rows arrive seq-ordered
    expect: dict[int, list] = {}
    for uid, (_eid, etype, val) in last.items():
        if etype == "error":  # last op is a delete -> key invisible
            continue
        expect.setdefault(uid % 16, []).append(math.floor(val * 100))
    expected = {
        (shard, sum(cents), len(cents)) for shard, cents in expect.items()
    }
    got = {
        (r["shard"], r["sum_cents"], r["n_keys"])
        for r in cdc_incremental_agg(spark, sf_dir).collect()
    }
    assert got == expected
