"""Approximate near-duplicate detection: MinHash-LSH and SimHash.

Both signatures are computed in one map-side Python pass over Arrow
batches (no shuffle); only the pair joins run as Spark joins.

- **MinHash** (``with_minhash``): Spark tokenizes
  (``split(trim(lower(text)), '\\s+')``), then one ``mapInArrow`` pass
  takes distinct 3-word shingles -> portable 32-bit hash (md5 prefix,
  see ``_minhash_batches``) -> 32 universal hash functions ((a*h+b) mod
  p in 32-bit space so nothing overflows int64) -> per-doc numpy min per
  function; then band hashes (SQL) -> equi-join on (band, hash). At 100 TB
  this is the designed dedup path: cost is linear in corpus + candidate
  pairs, never all-pairs, and the signature step shuffles nothing.

- **SimHash** runs in mapInPandas (Arrow batches): per-doc 64-bit
  signature from md5-derived token hashes (deterministic across runs,
  unlike Python's builtin hash). Bucketing on 16-bit signature chunks
  gives candidates; exact Hamming distance via bit_count(xor) filters.

Reference parity note: the reference has no near-dup operator — this is
SURVEY.md §2.10 north-star scope.
"""

from __future__ import annotations

import hashlib
import logging
import random
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_P32 = 4294967311  # smallest prime > 2^32

# Signature frames cached by banded_hamming_pairs, kept so long-lived
# sessions can release them: the cache manager dedupes by logical plan,
# so each DISTINCT caller/input accumulates one entry that otherwise
# lives until session end (ADVICE r11). Batch drivers and bench either
# call release_signature_caches() between workloads or use
# spark.catalog.clearCache() (which also drops these).
#
# Keyed by DataFrame.semanticHash() (ADVICE r12 #3): repeat executions
# of the SAME workload re-register a semantically identical frame that
# the JVM cache manager already dedupes — tracking it again would grow
# the list without bound AND, worse, any eviction-by-count scheme would
# unpersist the shared cache entry out from under the retained twin
# (measured: a plain FIFO cap made embedding_neardup_pairs 2.7x slower
# in-suite, because iso-block caches were evicted by OTHER queries'
# registrations before the headline trials re-used them). Size is
# therefore bounded by the number of DISTINCT signature workloads in
# the process, with _SIG_CACHE_CAP as a backstop for pathological
# callers. (df.is_cached is NOT usable as a liveness probe: in Spark 4
# it keeps reporting True after catalog.clearCache().)
_SIG_CACHES: dict[int, DataFrame] = {}

# Backstop bound on tracked DISTINCT signature frames; past it the
# oldest is dropped from the REGISTRY ONLY — not unpersisted (ADVICE
# r13 #4): semantically identical frames share one JVM cache entry, so
# an unpersist at the cap could yank a cache entry another live
# workload is still reusing mid-suite — the same hazard the measured
# FIFO-eviction rejection above describes, just deferred to the cap.
# The cost of skipping the unpersist: a process with > cap distinct
# workloads leaks those JVM cache entries until
# release_signature_caches() / spark.catalog.clearCache() / session
# end — the documented reclaim paths. Generous on purpose: the full
# bench suite holds ~a dozen distinct banded workloads.
_SIG_CACHE_CAP = 64


def release_signature_caches() -> int:
    """Unpersist every signature frame banded_hamming_pairs has cached
    in this process; returns how many were released. Frames of a
    stopped session are only dropped from the registry: their cache
    went with the session, and an unpersist there raises."""
    n = len(_SIG_CACHES)
    for df in _SIG_CACHES.values():
        if df.sparkSession.sparkContext._jsc is not None:
            df.unpersist()
    _SIG_CACHES.clear()
    return n


def _register_sig_cache(df: DataFrame) -> None:
    """Track a cached signature frame so release_signature_caches() can
    drop it; dedupe by semantic hash (repeat workloads share one JVM
    cache entry — and one registry slot), FIFO-evict past the backstop
    cap so the registry cannot itself leak in long-lived processes."""
    key = df.semanticHash()
    if key in _SIG_CACHES:
        return
    _SIG_CACHES[key] = df
    while len(_SIG_CACHES) > _SIG_CACHE_CAP:
        # registry-only eviction — deliberately NO unpersist (see the
        # _SIG_CACHE_CAP note: the shared JVM entry may still be hot).
        # The evicted entry's JVM cache memory is now reclaimable only
        # via release_signature_caches()/clearCache()/session end —
        # warn so the leak is visible (ADVICE r14 #3).
        _SIG_CACHES.pop(next(iter(_SIG_CACHES)))
        logging.getLogger(__name__).warning(
            "signature-cache registry cap (%d) hit: evicted an entry "
            "WITHOUT unpersisting; its JVM cache memory persists until "
            "release_signature_caches()/clearCache()/session end",
            _SIG_CACHE_CAP,
        )


def _perm_params(n_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    # a, b < 2^31 so a*h32 + b < 2^63: the family runs in plain int64
    # arithmetic in numpy, and DuckDB replays it in BIGINT
    rng = random.Random(seed)
    return [
        (rng.randrange(1, 1 << 31), rng.randrange(0, 1 << 31))
        for _ in range(n_hashes)
    ]


def shingles_from_tokens(toks, k: int = 3):
    """Distinct k-word shingles from an already-materialized token array
    column. IMPORTANT: pass a real column reference, not the split()
    expression — Catalyst does not eliminate common subexpressions inside
    higher-order-function lambdas, so an inline split() re-tokenizes the
    document per element (O(tokens²) per doc, measured 10× slowdown)."""
    n = F.size(toks)
    sh = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(k)]),
    )
    return F.when(n >= k, F.array_distinct(sh)).otherwise(
        F.array().cast("array<string>")
    )


def tokens_sql(text_col: str = "text") -> str:
    """SQL for a text's tokens, ``split(trim(lower(text)), '\\s+')``:
    the one tokenization of the MinHash pass and the C4 quality gate."""
    return f"split(trim(lower(`{text_col}`)), '\\\\s+')"


# shingles per (shingle, hash function) matrix of the signature pass:
# 2^15 x 32 int64 is 8 MB, so a large Arrow batch never builds one
# matrix for all its docs
_SHINGLE_BUDGET = 1 << 15


def _minhash_batches(tokens_col: str, out_col: str, n_hashes: int):
    """mapInArrow body: replace ``tokens_col`` (a doc's tokens) with
    ``out_col``, the MinHash of the doc's distinct 3-word shingles (NULL
    when it has none), passing the other columns through untouched.

    A shingle is its 3 tokens joined by one space, as ``concat_ws``
    joins them. It hashes to the first 4 md5 bytes of its UTF-8,
    big-endian: Spark's ``conv(substring(md5(s),1,8),16,10)`` and
    DuckDB's ``CAST('0x'||substring(md5(s),1,8) AS BIGINT)``, which is
    what makes the whole MinHash family oracle-pinnable. The
    per-function min over a doc's shingles is one numpy reduceat over a
    (shingle, function) matrix, built per run of rows holding about
    ``_SHINGLE_BUDGET`` shingles (one longer doc gets a matrix of its
    own).

    The returned closure references no module of this package, so the
    Python workers need not import it."""
    params = np.array(_perm_params(n_hashes), dtype=np.int64)
    a, b, p = params[:, 0], params[:, 1], _P32
    budget = _SHINGLE_BUDGET
    md5 = hashlib.md5

    def signatures(hashes: list[int], counts: list[int]) -> pa.Array:
        n = np.array(counts, dtype=np.int64)
        has = n > 0
        mins = np.empty((0, n_hashes), dtype=np.int64)
        if hashes:
            h = np.array(hashes, dtype=np.int64)
            starts = (np.cumsum(n) - n)[has]
            mins = np.minimum.reduceat((h[:, None] * a + b) % p, starts, axis=0)
        offsets = np.zeros(len(n) + 1, dtype=np.int32)
        offsets[1:] = np.cumsum(has * n_hashes)
        return pa.ListArray.from_arrays(
            pa.array(offsets), pa.array(mins.ravel()), mask=pa.array(~has)
        )

    def compute(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            col = rb.schema.get_field_index(tokens_col)
            docs = rb.column(col).to_pylist()
            rb = rb.remove_column(col)
            start, hashes, counts = 0, [], []
            for end, toks in enumerate(docs, 1):
                shingles = {" ".join(toks[j : j + 3]) for j in range(len(toks or ()) - 2)}
                counts.append(len(shingles))
                hashes.extend(
                    int.from_bytes(md5(s.encode()).digest()[:4], "big") for s in shingles
                )
                if len(hashes) >= budget or end == len(docs):
                    yield rb.slice(start, end - start).append_column(
                        out_col, signatures(hashes, counts)
                    )
                    start, hashes, counts = end, [], []

    return compute


def with_minhash(
    docs: DataFrame, text_col: str = "text", out_col: str = "minhash", n_hashes: int = 32
) -> DataFrame:
    """``docs`` plus ``out_col array<long>[n_hashes]``: the MinHash of
    the distinct 3-word shingles of ``text_col``'s tokens
    (``tokens_sql``), NULL for a text with fewer than 3 tokens. Spark
    tokenizes; one ``mapInArrow`` pass shingles, hashes and takes the
    minima, no shuffle. Every other column passes through with its
    Arrow type unchanged.

    The shingle hash h32 < 2^32 keeps every (a*h+b) product under 2^63,
    so the universal-hash family runs in plain int64 arithmetic (and
    DuckDB replays it exactly — see DEDUP_MINHASH_SQL).
    """
    schema = T.StructType(
        docs.schema.fields + [T.StructField(out_col, T.ArrayType(T.LongType()))]
    )
    toks = docs.withColumn("__tokens", F.expr(tokens_sql(text_col)))
    return toks.mapInArrow(_minhash_batches("__tokens", out_col, n_hashes), schema)


def minhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n_hashes: int = 32
) -> DataFrame:
    """(id, minhash array<long>[n_hashes]) for every doc with at least
    one 3-word shingle — the ``with_minhash`` pass, no shuffle."""
    sig = with_minhash(
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("text")),
        n_hashes=n_hashes,
    )
    return sig.where("minhash IS NOT NULL").select("id", "minhash")


def band_hash_sql(minhash_col: str = "minhash", n_hashes: int = 32, n_bands: int = 8) -> str:
    """SQL for ``array<long>[n_bands]``: band b's hash is the 60-bit md5
    prefix of its ``n_hashes/n_bands`` minhash values joined by commas.
    60 bits keeps the decimal rendering inside int64 for every engine;
    collision odds at 2^-60 per band pair are irrelevant next to the
    est-Jaccard verification that follows the band join. One F.expr
    parse instead of ~n_hashes*4 py4j round trips per Column tree (r20:
    the streaming ingest builds this per micro-batch)."""
    rows_per_band = n_hashes // n_bands
    return "array({})".format(
        ", ".join(
            "CAST(conv(substring(md5(concat_ws(',', {cols})), 1, 15), 16, 10) AS BIGINT)".format(
                cols=", ".join(
                    f"CAST(element_at({minhash_col}, {band * rows_per_band + r + 1}) AS STRING)"
                    for r in range(rows_per_band)
                )
            )
            for band in range(n_bands)
        )
    )


def band_hashes(sig: DataFrame, n_hashes: int = 32, n_bands: int = 8) -> DataFrame:
    """(id, band_idx, band_hash) rows from a minhash-signature frame —
    the LSH banding step of the batch pair-miner. Payload-free: only the
    3 columns travel through the candidate join."""
    return sig.selectExpr(
        "id", f"posexplode({band_hash_sql('minhash', n_hashes, n_bands)}) AS (band_idx, band_hash)"
    )


def minhash_est_jaccard(ma: str, mb: str, n_hashes: int) -> str:
    """SQL for the signature-estimated Jaccard of two minhash array
    columns: the matching-component fraction."""
    return f"size(filter(zip_with({ma}, {mb}, (x, y) -> x = y), e -> e)) / {n_hashes}"


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    n_bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Candidate pairs via banding + signature-estimated Jaccard filter.

    rows_per_band = n_hashes/n_bands; two docs collide if any band of
    their signatures matches exactly. est_jaccard = matching-component
    fraction of the full signatures (an unbiased Jaccard estimator).
    """
    sig = minhash_signatures(docs, id_col, text_col, n_hashes).cache()
    _register_sig_cache(sig)  # same lifecycle as banded_hamming_pairs
    # bands carry only (id, band_idx, band_hash) — signatures are joined
    # back AFTER the candidate pairs are deduped, so the band self-join
    # never shuffles the 32-long arrays per duplicate candidate
    bands = band_hashes(sig, n_hashes, n_bands)

    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sa = sig.select(F.col("id").alias("doc_a"), F.col("minhash").alias("ma"))
    sb = sig.select(F.col("id").alias("doc_b"), F.col("minhash").alias("mb"))
    # No broadcast hint on the signature re-join: the signature table is
    # CORPUS-sized (one row per doc, ~n_hashes*8 bytes each), so a forced
    # broadcast is exactly the thing that stops working at 100 TB —
    # ~300 GB of signatures cannot ship to every executor. Left to AQE,
    # the cached sig frame's accurate runtime size still converts this to
    # a broadcast join at bench scale (verified in the dumped plan), and
    # at cluster scale it degrades gracefully to a shuffle join keyed on
    # doc id — the plan a 1B-doc corpus actually needs.
    scored = cand.join(sa, "doc_a").join(sb, "doc_b")
    est = F.expr(minhash_est_jaccard("ma", "mb", n_hashes))
    return (
        scored.withColumn("est", est)
        .filter(F.col("est") >= threshold)
        # floor-scaled like neardup_jaccard_pairs: est is k/n_hashes and
        # k*1e4/n_hashes lands exactly on .5 for odd k at n=32 — round()
        # ties flip between engines, floor never does (oracle precedent:
        # textops.NEARDUP_JACCARD_SQL).
        .select("doc_a", "doc_b", F.floor(F.col("est") * 1e4).alias("est_jaccard"))
    )


def simhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash int64) via mapInPandas — Arrow batches, numpy bit math,
    md5-based token hashing for run-to-run determinism."""
    out_schema = f"{id_col} long, simhash long"

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bit_weights = 1 << np.arange(64, dtype=np.uint64)
        # token-hash memo: md5 cost is paid once per DISTINCT token per
        # worker, not once per (doc, token) occurrence
        memo: dict[str, np.ndarray] = {}

        def token_bits(t: str) -> np.ndarray:
            cached = memo.get(t)
            if cached is None:
                h = int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "little")
                cached = np.where((h & bit_weights) != 0, 1, -1).astype(np.int64)
                memo[t] = cached
            return cached

        for pdf in batches:
            sigs = np.zeros(len(pdf), dtype=np.int64)
            for row_i, text in enumerate(pdf[text_col].astype(str)):
                toks = set(text.strip().lower().split())
                if not toks:
                    continue
                acc = np.zeros(64, dtype=np.int64)
                for t in toks:
                    acc += token_bits(t)
                sig = (bit_weights[acc > 0]).sum(dtype=np.uint64)
                sigs[row_i] = np.int64(sig)
            yield pd.DataFrame({id_col: pdf[id_col].values, "simhash": sigs})

    return docs.select(id_col, text_col).mapInPandas(compute, out_schema)


def banded_hamming_pairs(
    sig: DataFrame,
    id_col: str,
    sig_col: str,
    max_hamming: int = 2,
) -> DataFrame:
    """Generic 64-bit-signature near-dup pair join: candidates share any
    16-bit chunk (pigeonhole-complete for max_hamming <= 3: 4 bits of
    difference cannot dirty all 4 chunks), verified by exact Hamming
    distance (bit_count of xor). The shuffle key is the (chunk_idx,
    chunk) pair — payload-free banding, same economics as the MinHash
    band join. Shared by text SimHash and image dHash callers."""
    if max_hamming > 3:
        raise ValueError(
            f"4x16-bit banding only guarantees recall for max_hamming <= 3, "
            f"got {max_hamming}"
        )
    # cache the signature frame before the self-join: the plan
    # references it twice and (when the join broadcasts) neither side
    # carries an exchange to reuse, so an unprotected sig runs its
    # producer twice — for the image-dHash caller that producer is the
    # whole mapInPandas decode chain (its plan held two full
    # MapInPandas stacks). cache() over localCheckpoint deliberately:
    # the cache manager dedupes by logical plan, so the one
    # materialization also serves repeat executions of the same query
    # (the r1-r10 simhash behavior, now uniform for every caller). The
    # frame is (id, 64-bit sig) — corpus-row-count narrow rows, the
    # cheap thing to persist at any scale next to re-decoding payloads.
    # Lifecycle: registered in _SIG_CACHES so release_signature_caches()
    # can drop it; otherwise it lives until clearCache()/session end.
    sig = sig.select(id_col, sig_col).cache()
    _register_sig_cache(sig)
    chunks = sig.select(
        F.col(id_col).alias("id"),
        F.col(sig_col).alias("sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_idx"),
                        F.shiftright(sig_col, c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("c"),
    ).select("id", "sig", "c.chunk_idx", "c.chunk")
    a, b = chunks.alias("a"), chunks.alias("b")
    hamming = F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            # long, not int: the driver's dtype-strict compare hashes
            # against DuckDB bit_count output cast to BIGINT
            hamming.cast("long").alias("hamming"),
        )
        # verify BEFORE dedup: the Hamming filter is a codegen'd popcount
        # over columns already in hand, while dropDuplicates is a shuffle
        # — filtering first shrinks that exchange by the candidate
        # false-positive factor (multi-chunk matches re-enter it anyway,
        # but never non-matches)
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def simhash_neardup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 2,
) -> DataFrame:
    """Candidate pairs: docs sharing any 16-bit signature chunk; verified
    by exact Hamming distance (bit_count of xor) <= max_hamming.

    No .cache() here since r11: banded_hamming_pairs caches the
    signature frame itself (uniform protection for every caller)."""
    sig = simhash_signatures(docs, id_col, text_col)
    return banded_hamming_pairs(sig, id_col, "simhash", max_hamming)
