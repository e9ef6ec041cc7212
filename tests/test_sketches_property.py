"""Property-based check: distributed Misra-Gries + exact verify equals
the exact heavy-hitter set on RANDOM skewed streams under RANDOM
partitionings — the adversarial cases are items sitting exactly at the
n/k boundary and heavy items diluted across many partitions."""

from __future__ import annotations

import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from clockpipe_spark.operators.sketches import heavy_hitters_exact


@st.composite
def skewed_streams(draw):
    n = draw(st.integers(min_value=1, max_value=400))
    # small vocab with heavy repetition so boundary counts occur often
    vocab = ["a", "b", "c", "d", "e", "f"]
    items = [draw(st.sampled_from(vocab)) for _ in range(n)]
    k = draw(st.integers(min_value=2, max_value=6))
    parts = draw(st.integers(min_value=1, max_value=5))
    return items, k, parts


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(skewed_streams())
def test_mg_heavy_hitters_property(spark, case):
    items, k, parts = case
    df = spark.createDataFrame([(t,) for t in items], "term string").repartition(
        parts
    )
    counts = Counter(items)
    total = len(items)
    expect = {(t, c) for t, c in counts.items() if c * k > total}
    got = {
        (r["term"], r["cnt"])
        for r in heavy_hitters_exact(df, "term", k).collect()
    }
    assert got == expect
