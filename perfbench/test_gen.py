"""Generator and manifest tests: ``python -m pytest perfbench -q``.

No Spark session is started."""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pytest

from perfbench import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _corpus_tables(seed: int) -> dict[str, pa.Table]:
    batches, _ = gen.corpus_docs(seed, 4, 32)
    return {f"b{i}": b for i, b in enumerate(batches)}


GENERATORS = {
    "cdc": lambda seed: gen.cdc_inputs(seed, 4, 2_000, 20_000),
    "corpus": _corpus_tables,
    "analytics": lambda seed: gen.analytics_tables(seed, 0.0005),
}


@pytest.mark.parametrize("kind", sorted(GENERATORS))
def test_same_seed_same_bytes_other_seed_differs(kind):
    make = GENERATORS[kind]
    assert gen.content_hash(make(7)) == gen.content_hash(make(7))
    assert gen.content_hash(make(7)) != gen.content_hash(make(8))


def test_cdc_op_mix_routing_and_key_skew():
    rows = 5_000
    t = gen.cdc_inputs(11, 4, rows, 65_536)
    log = t["changes"].to_pandas()
    assert log["seq"].tolist() == list(range(65_536))
    shares = log["op"].value_counts(normalize=True)
    for op, want in gen.CDC_OP_SHARES.items():
        assert abs(shares[op] - want) < 0.01, (op, shares[op])
    routed = log["tbl"].value_counts(normalize=True)
    assert sorted(routed.index) == ["t0", "t1", "t2", "t3"]
    assert routed.between(0.23, 0.27).all()
    for tbl, part in log.groupby("tbl"):
        ins = part[part["op"] == "I"]["user_id"]
        assert ins.min() >= rows and ins.is_unique  # inserts take fresh keys
        ud = part[part["op"] != "I"]["user_id"]
        assert ud.between(0, rows - 1).all()
        hits = ud.value_counts().to_numpy()
        top1 = hits[: rows // 100].sum() / len(ud)
        top10 = hits[: rows // 10].sum() / len(ud)
        # power-law skew: ~21.5% of hits on the hottest 1%, ~46% on 10%
        assert 0.17 < top1 < 0.27, (tbl, top1)
        assert 0.40 < top10 < 0.52, (tbl, top10)
        # a hot key is a random id, not a low one
        assert np.median(ud.value_counts().index[:10]) > rows // 10


def test_corpus_plants_and_gate_mix():
    batches, planted = gen.corpus_docs(5, 6, 50)
    assert len(batches) == 6 and all(b.num_rows == 50 for b in batches)
    ids = np.concatenate([b.column("doc_id").to_numpy() for b in batches])
    assert len(np.unique(ids)) == len(ids)
    first = set(batches[0].column("doc_id").to_pylist())
    assert not (planted["exact"] | planted["near"]) & first
    assert len(planted["exact"]) == len(planted["near"]) == 5 * 5
    texts = {
        i: x
        for b in batches
        for i, x in zip(b.column("doc_id").to_pylist(), b.column("text").to_pylist())
    }
    originals = {x for i, x in texts.items() if i not in planted["exact"] | planted["near"]}
    assert all(texts[i] in originals for i in planted["exact"])
    assert not any(texts[i] in originals for i in planted["near"])
    kept = np.mean([gen.c4_keep(x) for x in texts.values()])
    assert 0.6 < kept < 0.95, kept


def test_manifest_lists_every_metric_the_runner_prints():
    from perfbench.run import END_TO_END, per_layer_units
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == per_layer_units()
