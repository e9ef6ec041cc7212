"""Output checks, run outside the timed phase.

Each check returns a list of failure strings (empty = correct), so the
caller can count them against the operations attempted.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench.gen import c4_keep


def frame_hash(df: pd.DataFrame) -> tuple[int, int]:
    """Order-insensitive (row count, sum of row hashes mod 2**64)."""
    df = df.reindex(sorted(df.columns), axis=1).reset_index(drop=True)
    rows = pd.util.hash_pandas_object(df, index=False).to_numpy(np.uint64)
    return len(df), int(rows.sum(dtype=np.uint64))


# -- CDC -----------------------------------------------------------------------
def cdc_reference(src_dir: str, tables: list[str], upto_seq: int) -> dict[str, tuple[int, int]]:
    """Visible replica state per table, computed by DuckDB: snapshot rows
    as seq -1 inserts, union the change log up to ``upto_seq``, keep the
    last row per key on seq, drop keys whose last op is a delete."""
    con = duckdb.connect()
    out = {}
    for t in tables:
        df = con.execute(
            f"""
            WITH log AS (
              SELECT user_id, value, ts, -1::BIGINT AS seq, 'I' AS op
              FROM read_parquet('{src_dir}/{t}.parquet')
              UNION ALL
              SELECT user_id, value, ts, seq, op
              FROM read_parquet('{src_dir}/changes.parquet')
              WHERE tbl = '{t}' AND seq <= {upto_seq}
            ), ranked AS (
              SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY seq DESC) AS rn
              FROM log
            )
            SELECT user_id, value, epoch_us(ts) AS ts_us, seq AS last_seq
            FROM ranked WHERE rn = 1 AND op <> 'D'
            """
        ).fetchdf()
        out[t] = frame_hash(df)
    con.close()
    return out


def replica_hashes(spark, job, tables: list[str]) -> dict[str, tuple[int, int]]:
    """The same hash over each replica table's visible state."""
    from pyspark.sql import functions as F

    out = {}
    for t in tables:
        df = job.store_for(t).read(spark).select(
            "user_id", "value", F.unix_micros("ts").alias("ts_us"), "last_seq"
        )
        out[t] = frame_hash(df.toPandas())
    return out


def check_cdc(spark, job, src_dir: str, tables: list[str]) -> list[str]:
    want = cdc_reference(src_dir, tables, job.read_cursor())
    got = replica_hashes(spark, job, tables)
    return [
        f"replica {t}: rows/hash {got[t]} != reference {want[t]}"
        for t in tables
        if got[t] != want[t]
    ]


# -- analytics suite -----------------------------------------------------------
def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Column-sorted, value-normalized, row-sorted frame (the same
    normalization as the repository's oracle check)."""
    df = df.reindex(sorted(df.columns), axis=1)
    out = pd.DataFrame()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_float_dtype(col):
            out[c] = col.round(6)
        elif pd.api.types.is_datetime64_any_dtype(col):
            out[c] = pd.to_datetime(col).dt.tz_localize(None)
        elif len(col) and isinstance(col.iloc[0], (list, tuple, np.ndarray)):
            out[c] = col.map(lambda v: tuple(v.tolist() if isinstance(v, np.ndarray) else v))
        else:
            out[c] = col
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def compare_oracle(name: str, sdf: pd.DataFrame, ddf: pd.DataFrame | None) -> list[str]:
    """Spark result vs DuckDB oracle result; rows-only (non-empty) when
    the query has no oracle."""
    if ddf is None:
        return [] if len(sdf) else [f"{name}: rows-only check found no rows"]
    if sorted(sdf.columns) != sorted(ddf.columns):
        return [f"{name}: columns {sorted(sdf.columns)} != {sorted(ddf.columns)}"]
    if len(sdf) != len(ddf):
        return [f"{name}: {len(sdf)} rows != oracle {len(ddf)}"]
    for c in sdf.columns:
        ks, kd = sdf[c].dtype.kind, ddf[c].dtype.kind
        if (ks in "iu" and kd == "f") or (kd in "iu" and ks == "f"):
            return [f"{name}: column {c} int/float kind {sdf[c].dtype} vs {ddf[c].dtype}"]
    try:
        pd.testing.assert_frame_equal(
            normalize(sdf), normalize(ddf),
            check_dtype=False, check_exact=False, rtol=1e-6, atol=1e-9,
        )
    except AssertionError as ex:
        return [f"{name}: value mismatch {str(ex)[:300]}"]
    return []


def oracle_frames(data_dir: str, tables, oracles: dict[str, str], names) -> dict:
    """DuckDB oracle results for ``names`` (None where no oracle exists)."""
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    out = {n: (con.execute(oracles[n]).fetchdf() if n in oracles else None) for n in names}
    con.close()
    return out


# -- corpus ingest -------------------------------------------------------------
def _parquet_files(path: str) -> list[str]:
    files = []
    for dirpath, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        files += [
            os.path.join(dirpath, n)
            for n in names
            if n.endswith(".parquet") and not n.startswith(("_", "."))
        ]
    return sorted(files)


def read_parquet_dir(path: str, columns=None) -> pd.DataFrame:
    files = _parquet_files(path)
    if not files:
        return pd.DataFrame(columns=columns or [])
    return pd.concat([pq.read_table(f, columns=columns).to_pandas() for f in files])


def check_corpus(pipe, batches, planted_exact: set[int]) -> list[str]:
    """Per batch: arrived = gated out + rejected + admitted, the gate
    agrees with the Python restatement of the C4 rule, and the metrics'
    admitted count equals the batch's corpus rows. Over the corpus: no
    two admitted documents share a text, and no planted exact copy of
    an earlier-batch document was admitted."""
    fails: list[str] = []
    metrics = read_parquet_dir(pipe.metrics_dir).set_index("batch_id")
    corpus = read_parquet_dir(pipe.corpus_dir, ["doc_id", "text"])
    corpus_ids = set(corpus["doc_id"].tolist())
    for b, batch in batches:
        if b not in metrics.index:
            fails.append(f"batch {b}: no metrics record")
            continue
        m = metrics.loc[b]
        ids = batch.column("doc_id").to_pylist()
        texts = batch.column("text").to_pylist()
        kept = sum(c4_keep(x) for x in texts)
        admitted = sum(i in corpus_ids for i in ids)
        # arrived = gated out + rejected + admitted, with each term counted
        # independently: gated out by the reference rule, admitted from the
        # corpus, rejected = passed the gate but not admitted (never < 0)
        if m["n_arrived"] != len(ids):
            fails.append(f"batch {b}: arrived {m['n_arrived']} != {len(ids)}")
        if m["n_gated"] != kept:
            fails.append(f"batch {b}: gate kept {m['n_gated']} != reference {kept}")
        if m["n_admitted"] != admitted or admitted > kept:
            fails.append(
                f"batch {b}: admitted {m['n_admitted']}, corpus rows {admitted}, gated {kept}"
            )
    if corpus["text"].duplicated().any():
        fails.append(f"{int(corpus['text'].duplicated().sum())} admitted documents share a text")
    leaked = corpus_ids & planted_exact
    if leaked:
        fails.append(f"{len(leaked)} planted exact copies admitted, e.g. {sorted(leaked)[:3]}")
    return fails
