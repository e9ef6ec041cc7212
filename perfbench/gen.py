"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed yields
byte-identical arrays (``content_hash`` pins this), a different seed
different ones. Inputs are written as parquet for the program to read;
the program never sees the seed.

- ``cdc_inputs``: a snapshot of routed tables ``t0..t{n-1}`` (columns
  ``user_id, value, ts``) and one change log (``seq, op, tbl, user_id,
  value, ts``) with ops I/U/D at about 10/80/10 and power-law key skew
  on updates and deletes.
- ``corpus_docs``: document batches drawn from a generated corpus, with
  exact and token-perturbed copies of earlier-batch documents planted
  under fresh ids.
- ``analytics_tables``: the ten registry tables (TPC-H-like star schema,
  ``events``, ``documents``, ``embeddings``) at a small scale factor.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CDC_OP_SHARES = {"I": 0.10, "U": 0.80, "D": 0.10}
# a key's rank r in [0, n) is drawn as floor(n * u**KEY_SKEW_EXP) with
# u ~ U(0, 1), so P(rank < q*n) = q**(1/KEY_SKEW_EXP): the hottest 1% of
# keys receive about 21.5% of updates and deletes, the hottest 10% 46%
KEY_SKEW_EXP = 3.0
# share of each corpus batch, from the second on, planted as copies of
# earlier-batch documents (half verbatim, half with ~5% of tokens replaced)
PLANT_SHARE = 0.2
_TS0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC

WORDS = (
    "a the data table row column value key merge join filter sort scan "
    "query stream batch window group agg part order line customer vector "
    "spark hash fast slow big small replica change cursor snapshot delta "
    "bucket compact shuffle plan stage task driver worker cache index"
).split()


def content_hash(tables: dict[str, pa.Table]) -> str:
    """sha256 over the tables' Arrow IPC bytes, in name order."""
    h = hashlib.sha256()
    for name in sorted(tables):
        h.update(name.encode())
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One ``<name>.parquet`` file per table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def _ts(us: np.ndarray, tz: str | None = None) -> pa.Array:
    return pa.array(us.astype(np.int64), pa.timestamp("us", tz))


# -- CDC ---------------------------------------------------------------------
def cdc_inputs(
    seed: int, n_tables: int, rows_per_table: int, n_events: int
) -> dict[str, pa.Table]:
    """Snapshot tables ``t<i>`` plus the change log ``changes``.

    ``seq`` runs 0..n_events-1 without gaps, so from the initial cursor
    (-1) a peek cap of C takes exactly C events per iteration. Inserts take fresh keys above the
    snapshot range; updates and deletes hit existing snapshot keys with
    power-law skew (a hot key is a random id, not a low one).
    """
    rng = np.random.default_rng([seed, 1])
    out: dict[str, pa.Table] = {}
    for t in range(n_tables):
        out[f"t{t}"] = pa.table(
            {
                "user_id": pa.array(np.arange(rows_per_table, dtype=np.int64)),
                "value": pa.array(np.round(rng.uniform(0, 1000, rows_per_table), 2)),
                "ts": _ts(_TS0_US - rng.integers(0, 86_400_000_000, rows_per_table), "UTC"),
            }
        )
    tbl = rng.integers(0, n_tables, n_events)
    ops = rng.choice(
        np.array(list(CDC_OP_SHARES)), n_events, p=list(CDC_OP_SHARES.values())
    )
    perms = [rng.permutation(rows_per_table) for _ in range(n_tables)]
    ranks = np.floor(
        rows_per_table * rng.random(n_events) ** KEY_SKEW_EXP
    ).astype(np.int64)
    keys = np.empty(n_events, dtype=np.int64)
    for t in range(n_tables):
        sel = tbl == t
        keys[sel] = perms[t][ranks[sel]]
        ins = sel & (ops == "I")
        keys[ins] = rows_per_table + np.arange(int(ins.sum()), dtype=np.int64)
    seq = np.arange(n_events, dtype=np.int64)
    out["changes"] = pa.table(
        {
            "seq": pa.array(seq),
            "op": pa.array(ops.astype(object), pa.string()),
            "tbl": pa.array(np.char.add("t", tbl.astype(str)).astype(object), pa.string()),
            "user_id": pa.array(keys),
            "value": pa.array(np.round(rng.uniform(0, 1000, n_events), 2)),
            "ts": _ts(_TS0_US + seq * 1_000_000 + rng.integers(0, 1_000_000, n_events), "UTC"),
        }
    )
    return out


# -- corpus ingest -----------------------------------------------------------
def _doc_text(rng: np.random.Generator) -> str:
    n = int(rng.integers(20, 160))  # about 1 in 5 falls under the 50-word gate
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n))


def _perturb(text: str, rng: np.random.Generator) -> str:
    toks = text.split()
    for i in rng.choice(len(toks), max(1, len(toks) // 20), replace=False):
        toks[i] = WORDS[int(rng.integers(0, len(WORDS)))]
    return " ".join(toks)


def corpus_docs(
    seed: int, n_batches: int, batch_docs: int, id_base: int = 0
) -> tuple[list[pa.Table], dict[str, set[int]]]:
    """``n_batches`` document batches (``doc_id, text``) plus the planted
    ids by kind (``exact``, ``near``). From the second batch on, each
    batch plants ``PLANT_SHARE`` of its rows as copies of documents from
    earlier batches, half verbatim and half with ~5% of tokens replaced,
    under fresh ids."""
    rng = np.random.default_rng([seed, 2])
    batches: list[pa.Table] = []
    planted: dict[str, set[int]] = {"exact": set(), "near": set()}
    history: list[str] = []
    next_id = id_base
    for b in range(n_batches):
        n_plant = int(batch_docs * PLANT_SHARE) if b else 0
        ids, texts = [], []
        for j in range(batch_docs):
            if j < n_plant:
                src = history[int(rng.integers(0, len(history)))]
                kind = "exact" if j % 2 == 0 else "near"
                text = src if kind == "exact" else _perturb(src, rng)
                planted[kind].add(next_id)
            else:
                text = _doc_text(rng)
            ids.append(next_id)
            texts.append(text)
            next_id += 1
        order = rng.permutation(batch_docs)
        batches.append(
            pa.table(
                {
                    "doc_id": pa.array(np.asarray(ids, dtype=np.int64)[order]),
                    "text": pa.array([texts[i] for i in order], pa.string()),
                }
            )
        )
        history.extend(t for j, t in enumerate(texts) if j >= n_plant)
    return batches, planted


def c4_keep(text: str) -> bool:
    """The C4/Gopher keep rule of ``corpus_ingest.c4_quality_gate``,
    restated in Python as the reference for the gated-out count."""
    toks = text.strip().lower().split()
    n = len(toks)
    if n == 0:
        return False
    mean_x100 = sum(len(t) for t in toks) * 100 // n
    alpha_x100 = sum(any("a" <= c <= "z" for c in t) for t in toks) * 100 // n
    return (
        50 <= n <= 100_000
        and 300 <= mean_x100 <= 1000
        and alpha_x100 >= 80
        and "{" not in text
        and "lorem ipsum" not in text.lower()
    )


# -- analytics tables --------------------------------------------------------
def analytics_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The registry's ten tables, shaped like the TPC-H-like fixtures
    (FIXTURES.md) at ``scale`` (0.001 -> 6,000 lineitem rows)."""
    rng = np.random.default_rng([seed, 3])
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(50, int(200_000 * scale))
    n_ord = max(200, int(1_500_000 * scale))
    n_li = max(800, int(6_000_000 * scale))
    n_ev = max(500, int(1_000_000 * scale))
    n_doc = max(200, int(500_000 * scale) // 2)
    day_us = 86_400_000_000
    d1995 = 788_918_400_000_000  # 1995-01-01

    def pick(vals, n):
        return pa.array(np.asarray(vals, dtype=object)[rng.integers(0, len(vals), n)], pa.string())

    def money(lo, hi, n):
        return pa.array(np.round(rng.uniform(lo, hi, n), 2))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pick(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }
    )
    adjs = ["blue", "cold", "small", "large", "red", "green", "bright", "dark"]
    nouns = ["widget", "bolt", "anvil", "rod", "gear", "spring", "valve", "hinge"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array(
                [f"{adjs[a]} {nouns[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]
            ),
            "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + np.arange(n_part) % 200 / 10, 2)),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 500_000, n_ord),
            "o_orderdate": _ts(d1995 + rng.integers(0, 2400, n_ord) * day_us),
            "o_orderpriority": pick(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }
    )
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pick(["A", "N", "R"], n_li),
            "l_linestatus": pick(["F", "O"], n_li),
            "l_shipdate": _ts(d1995 + rng.integers(1, 2500, n_li) * day_us),
        }
    )
    ev_ts = np.sort(_TS0_US + rng.integers(0, 30 * day_us, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": _ts(ev_ts),
            "user_id": pa.array(rng.integers(0, max(15, n_ev // 60), n_ev).astype(np.int64)),
            "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
            "value": pa.array(np.round(rng.exponential(50, n_ev) + 0.01, 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    texts = [_doc_text(rng) for _ in range(n_doc)]
    for i in range(0, n_doc, 25):  # exact duplicates for the dedup queries
        texts[i] = texts[(i * 7 + 3) % n_doc]
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pick(["de", "en", "es", "fr", "zh"], n_doc),
            "source": pick([f"src{i}" for i in range(20)], n_doc),
            "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64)),
        }
    )
    emb = rng.normal(0, 1, (n_doc, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_doc, dtype=np.int64)),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_doc).astype(np.int32)),
        }
    )
    return t
