"""Approximate / UDF-backed operators surfaced as queries: MinHash-LSH,
SimHash, LSH-blocked embedding dedup, multimodal plumbing.

``mm_bytes_meta`` has a genuine DuckDB oracle (octet_length / ascii /
sha256 over the same utf-8 payload), proving the mapInPandas plumbing
end-to-end. Since r11 the text hash families (MinHash-LSH, its cluster
composition, SimHash) are oracle-pinned too: their hashes are md5-based
(md5-prefix shingle hash / md5_number_upper), so DuckDB replays the signatures
bit-for-bit. Pytest additionally asserts recall against the exact
operators (seed-agnostic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clockpipe_spark.catalog import load_table
from clockpipe_spark.operators.multimodal import (
    blob_table,
    extract_bytes_meta,
    fake_decode_features,
)
from clockpipe_spark.operators.neardup import (
    minhash_lsh_pairs,
    simhash_neardup_pairs,
)
from clockpipe_spark.queries.textops import _doubled_corpus


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents feed for the mapInPandas codec stages.

    Deliberately NOT fanout_repartition-ed: codec stages are 1:1 maps
    whose parallelism at scale comes from parquet input splitting
    (maxPartitionBytes); A/B at sf0.1 shows the unconditional shuffle is
    noise-to-negative at this table size. The fan-out guard is reserved
    for stages whose OUTPUT explodes relative to input (pair joins,
    shingle explode)."""
    return load_table(spark, sf_dir, "documents").select("doc_id", "text")


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs over the doubled corpus (32 hashes,
    8 bands, est-Jaccard >= 0.5). The linear-cost twin of
    neardup_jaccard_pairs."""
    return minhash_lsh_pairs(_doubled_corpus(spark, sf_dir), threshold=0.5)


def dedup_cluster_assign_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-PATH twin of textops.dedup_cluster_assign: identical
    connected-components + canonical-doc step, but the edge input is the
    linear-cost MinHash-LSH pair miner instead of the quadratic exact-
    Jaccard baseline — the composition a 100 TB dedup pipeline actually
    runs. Oracle-pinned since r11 (DEDUP_CLUSTER_LSH_SQL replays the
    md5-seeded MinHash + banding + recursive components in DuckDB);
    tests/test_components.py additionally asserts >=95% of exact-Jaccard
    pairs land in one LSH cluster.

    Uses star contraction (not min-label): rounds iterate over the EDGE
    set (~pairs) instead of the full vertex labels, the round count is
    O(log n) on any graph shape, and the labels are provably identical
    (test_components.py star==min-label). The exact-oracle twin keeps
    min-label so both component operators stay driver-exercised."""
    from clockpipe_spark.operators.components import connected_components_star
    from clockpipe_spark.queries.textops import _doubled_corpus as _dc

    corpus = _dc(spark, sf_dir).select("doc_id")
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components_star(
        corpus, pairs, id_col="doc_id", src="doc_a", dst="doc_b",
        # minhash_lsh_pairs dropDuplicates(doc_a, doc_b) + doc_a<doc_b:
        # edges arrive unique — skip the edge-dedup shuffle (r15)
        edges_distinct=True,
    )
    # no final orderBy (r15, the changestream lesson): the gate
    # hash-compares canonically row-sorted frames, and the global
    # sort's range-partitioner sampling re-executed the final
    # corpus-labels join a second time (phase-traced: sorted write
    # 0.47-0.49 s vs 0.13-0.15 s unsorted; PLANS.md, r15 cluster-LSH
    # attribution)
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("lbl").alias("cluster_id"),
        (F.col("id") == F.col("lbl")).alias("is_canonical"),
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming <= 2 of 64 bits) over the doubled
    corpus; signature via mapInPandas. The tight radius keeps output
    meaningful on this corpus — small-vocab word-salad docs are all
    bag-of-words-similar, so wider radii match nearly everything."""
    return simhash_neardup_pairs(_doubled_corpus(spark, sf_dir))


def _minhash_sql_parts(n_hashes: int = 32, n_bands: int = 8) -> str:
    """Shared CTE chain replaying operators/neardup.minhash_lsh_pairs in
    DuckDB, bit-for-bit: same tokenization/shingling as the green
    NEARDUP_JACCARD_SQL, same md5-prefix shingle hash, same
    (a*h+b)%p universal-hash family from the same seeded params, same
    band/verify economics. One deliberate simplification: the band join
    keys on the 4 raw min values instead of their 60-bit md5 (Spark
    hashes only to narrow its shuffle key) — identical candidates
    modulo 2^-60 hash collisions, which the est-Jaccard verification
    would have to mis-score identically to matter."""
    from clockpipe_spark.operators.neardup import _P32, _perm_params
    from clockpipe_spark.queries.textops import _DOUBLED_SQL

    params = _perm_params(n_hashes)
    rows_per_band = n_hashes // n_bands
    mins = ",\n         ".join(
        f"min((h32 * {a} + {b}) % {_P32}) AS m{i}"
        for i, (a, b) in enumerate(params)
    )
    bands = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band_idx, concat_ws(',', {cols}) AS band_key"
        " FROM sig".format(
            b=b,
            cols=", ".join(
                f"m{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(n_bands)
    )
    matches = " + ".join(
        f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END" for i in range(n_hashes)
    )
    return f"""
corpus AS ({_DOUBLED_SQL}),
tok AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM corpus
),
sh AS (
  SELECT doc_id, unnest(list_distinct(
           CASE WHEN len(toks) >= 3
                THEN list_transform(
                       generate_series(1, len(toks) - 2),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                ELSE [] END)) AS shingle
  FROM tok
),
hs AS (
  SELECT doc_id,
         CAST(concat('0x', substring(md5(shingle), 1, 8)) AS BIGINT) AS h32
  FROM sh
),
sig AS (
  SELECT doc_id,
         {mins}
  FROM hs GROUP BY doc_id
),
bands AS (
{bands}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
scored AS (
  SELECT doc_a, doc_b,
         ({matches}) / {n_hashes}.0 AS est
  FROM cand
  JOIN sig sa ON cand.doc_a = sa.doc_id
  JOIN sig sb ON cand.doc_b = sb.doc_id
)"""


DEDUP_MINHASH_SQL = f"""
WITH {_minhash_sql_parts()}
SELECT doc_a, doc_b, CAST(floor(est * 10000) AS BIGINT) AS est_jaccard
FROM scored WHERE est >= 0.5
"""


DEDUP_CLUSTER_LSH_SQL = f"""
WITH RECURSIVE {_minhash_sql_parts()},
raw_edges AS (SELECT doc_a AS a, doc_b AS b FROM scored WHERE est >= 0.5),
edges AS (SELECT a, b FROM raw_edges UNION SELECT b, a FROM raw_edges),
nodes AS (SELECT doc_id FROM corpus),
reach AS (
  SELECT doc_id AS id, doc_id AS lbl FROM nodes
  UNION
  SELECT e.a AS id, r.lbl FROM edges e JOIN reach r ON e.b = r.id
)
SELECT id AS doc_id,
       min(lbl) AS cluster_id,
       (min(lbl) = id) AS is_canonical
FROM reach
GROUP BY id
"""


def _simhash_sql() -> str:
    """DuckDB replay of operators/neardup.simhash_signatures +
    banded_hamming_pairs: md5_number_upper(token) IS the Python
    ``int.from_bytes(md5(t).digest()[:8], 'little')`` (probed: both give
    12704604231530709392 for 'abc'), the 64 per-bit ±1 sums and the
    sign-threshold signature are generated expressions, and the pair
    join replays the 4x16-bit chunk banding + popcount verify. Valid
    because the corpus has no whitespace-only docs (Python's tokenizer
    would keep them at sig=0; SQL's empty group drops them) — asserted
    in tests/test_oracle_simhash.py."""
    from clockpipe_spark.queries.textops import _DOUBLED_SQL

    acc = ",\n         ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(64)
    )
    sig_terms = "\n           + ".join(
        f"(CASE WHEN b{b} > 0 THEN CAST({1 << b} AS HUGEINT)"
        f" ELSE CAST(0 AS HUGEINT) END)"
        for b in range(64)
    )
    return f"""
WITH corpus AS ({_DOUBLED_SQL}),
tok AS (
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
    FROM corpus
  )
),
hs AS (SELECT doc_id, md5_number_upper(token) AS h FROM tok),
acc AS (
  SELECT doc_id,
         {acc}
  FROM hs GROUP BY doc_id
),
sig AS (
  SELECT doc_id,
         {sig_terms} AS sig
  FROM acc
),
chunks AS (
  SELECT doc_id, sig, cc.c AS chunk_idx, (sig >> (cc.c * 16)) & 65535 AS chunk
  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS c) cc
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
FROM chunks a JOIN chunks b
  ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= 2
"""


DEDUP_SIMHASH_SQL = _simhash_sql()


def mm_bytes_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing, oracle-checked: binary payload column ->
    mapInPandas byte features. DuckDB computes the identical features
    natively on the same utf-8 payload."""
    blobs = blob_table(load_table(spark, sf_dir, "documents"))
    return extract_bytes_meta(blobs)


MM_BYTES_META_SQL = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       ascii(substring(text, 1, 1)) AS first_byte,
       substring(sha256(text), 1, 16) AS sha256_prefix
FROM documents
"""


def mm_fake_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fake decode over the blob table (real Arrow
    plumbing, stubbed codec — see operators.multimodal docstring)."""
    blobs = blob_table(load_table(spark, sf_dir, "documents"))
    return fake_decode_features(blobs)


MM_FAKE_DECODE_SQL = """
SELECT doc_id,
       octet_length(encode(text)) % 640 + 1 AS width,
       octet_length(encode(text)) % 480 + 1 AS height,
       CAST(floor(list_aggregate(
           list_transform(range(1, octet_length(encode(text)) + 1),
                          i -> ascii(substring(text, i, 1))),
           'avg') * 10000) AS BIGINT) AS mean_byte
FROM documents
"""


def mm_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image codec path: deterministic 24-bpp BMPs are synthesized
    per document (dimensions from byte length, a constant fill color from
    doc_id), then decoded by the stdlib-struct BMP parser
    (operators.multimodal.decode_bmp_features) — headers, row padding and
    the pixel array are the genuine on-disk format. The oracle computes
    the same features straight from doc_id/length, so a decoder that
    misreads the header or miscounts row padding fails the match."""
    import pandas as pd

    from clockpipe_spark.operators.multimodal import decode_bmp_features, encode_bmp

    docs = _docs(spark, sf_dir)

    def enc(batches):
        for pdf in batches:
            n = pdf["text"].map(lambda t: len(t.encode("utf-8")))
            payload = [
                encode_bmp(
                    int(nb) % 16 + 1,
                    int(nb) % 8 + 1,
                    (int(d) % 256, int(d) * 7 % 256, int(d) * 13 % 256),
                )
                for d, nb in zip(pdf["doc_id"], n)
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"].values, "payload": payload})

    blobs = docs.mapInPandas(enc, "doc_id long, payload binary")
    return decode_bmp_features(blobs)


MM_BMP_SQL = """
SELECT doc_id,
       octet_length(encode(text)) % 16 + 1 AS width,
       octet_length(encode(text)) % 8 + 1 AS height,
       24 AS bpp,
       CAST(floor((doc_id % 256 + (doc_id * 7) % 256 + (doc_id * 13) % 256)
                  / 3.0 * 10000) AS BIGINT) AS mean_px
FROM documents
"""


def mm_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio codec path: PCM WAVs synthesized per document (sample
    count from byte length, constant amplitude from doc_id), decoded by
    the stdlib RIFF-chunk walker (decode_wav_features). Oracle as above."""
    import pandas as pd

    from clockpipe_spark.operators.multimodal import decode_wav_features, encode_wav

    docs = _docs(spark, sf_dir)

    def enc(batches):
        for pdf in batches:
            n = pdf["text"].map(lambda t: len(t.encode("utf-8")))
            payload = [
                encode_wav(int(nb) % 500 + 10, int(d) % 128)
                for d, nb in zip(pdf["doc_id"], n)
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"].values, "payload": payload})

    blobs = docs.mapInPandas(enc, "doc_id long, payload binary")
    return decode_wav_features(blobs)


MM_WAV_SQL = """
SELECT doc_id,
       8000 AS sample_rate,
       CAST(octet_length(encode(text)) % 500 + 10 AS BIGINT) AS n_samples,
       CAST((octet_length(encode(text)) % 500 + 10) * 1000 // 8000 AS BIGINT)
           AS duration_ms,
       CAST((doc_id % 128) * 10000 AS BIGINT) AS mean_amp
FROM documents
"""


def mm_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio resample path: the same synthesized PCM WAVs as
    mm_wav_decode, run through operators/multimodal.resample_wav_features
    (RIFF walk -> int box-filter decimation by 2 -> resampled shape +
    mean |amplitude|). Constant-amplitude fixtures make every output
    value a closed form of the synthesis parameters, so the oracle
    verifies the whole decode -> filter -> downsample lane exactly."""
    import pandas as pd

    from clockpipe_spark.operators.multimodal import (
        encode_wav,
        resample_wav_features,
    )

    docs = _docs(spark, sf_dir)

    def enc(batches):
        for pdf in batches:
            n = pdf["text"].map(lambda t: len(t.encode("utf-8")))
            payload = [
                encode_wav(int(nb) % 500 + 10, int(d) % 128)
                for d, nb in zip(pdf["doc_id"], n)
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"].values, "payload": payload})

    blobs = docs.mapInPandas(enc, "doc_id long, payload binary")
    return resample_wav_features(blobs, factor=2)


MM_RESAMPLE_SQL = """
SELECT doc_id,
       8000 AS in_rate, 4000 AS out_rate,
       CAST(octet_length(encode(text)) % 500 + 10 AS BIGINT) AS in_samples,
       CAST((octet_length(encode(text)) % 500 + 10) // 2 AS BIGINT)
           AS out_samples,
       CAST((doc_id % 128) * 10000 AS BIGINT) AS mean_amp
FROM documents
"""


def udf_zscore_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped-map surface with an exact SQL twin: per-user
    z-score of event values (sample stddev)."""
    from clockpipe_spark.operators.grouped import zscore_per_group

    events = load_table(spark, sf_dir, "events").withColumn(
        "user_str", F.col("user_id").cast("string")
    )
    return zscore_per_group(events, "user_str", "value", "event_id").select(
        "event_id", F.col("user_str").cast("bigint").alias("user_id"), "z"
    )


UDF_ZSCORE_SQL = """
SELECT event_id, user_id,
       round((value - avg(value) OVER w) / stddev_samp(value) OVER w, 6) AS z
FROM events
WINDOW w AS (PARTITION BY user_id)
"""


def mm_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize path (mandate stage 3): gradient BMPs — pixel (x, y)
    is (x*7 + y*13) % 256, so the nearest-neighbor grid is verifiable;
    a constant fill would hide sampling bugs — synthesized per doc, then
    NN-downsampled to 4x3 by operators.multimodal.resize_bmp_features.
    The oracle replays the exact integer math: src = (dst*src_dim) //
    dst_dim grid, sum * 10000 // count mean."""
    import pandas as pd

    from clockpipe_spark.operators.multimodal import (
        encode_bmp_gradient,
        resize_bmp_features,
    )

    docs = _docs(spark, sf_dir)

    def enc(batches):
        for pdf in batches:
            n = pdf["text"].map(lambda t: len(t.encode("utf-8")))
            payload = [
                encode_bmp_gradient(int(nb) % 16 + 1, int(nb) % 8 + 1)
                for nb in n
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"].values, "payload": payload})

    blobs = docs.mapInPandas(enc, "doc_id long, payload binary")
    return resize_bmp_features(blobs, out_w=4, out_h=3)


MM_RESIZE_SQL = """
WITH dims AS (
  SELECT doc_id,
         octet_length(encode(text)) % 16 + 1 AS w,
         octet_length(encode(text)) % 8 + 1 AS h
  FROM documents
)
SELECT doc_id, 4 AS out_w, 3 AS out_h,
       CAST(list_sum(flatten(
         list_transform(generate_series(0, 2), y ->
           list_transform(generate_series(0, 3), x ->
             (((x * w) // 4) * 7 + ((y * h) // 3) * 13) % 256))))
         * 10000 // 12 AS BIGINT) AS mean_px_x10000
FROM dims
"""


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL frame-sampling path (mandate stage 4): per doc a byte
    pattern payload[i] = (doc_id + i*7) % 256 of n_bytes = len%200+40
    frames into 32-byte frames, every 3rd frame's exact integer byte
    mean — one output row per sampled frame (the UDTF fan-out a
    keyframe extractor has). The oracle replays the same byte formula
    per sampled frame."""
    import pandas as pd

    from clockpipe_spark.operators.multimodal import sample_frames

    docs = _docs(spark, sf_dir)

    def enc(batches):
        for pdf in batches:
            n = pdf["text"].map(lambda t: len(t.encode("utf-8")))
            payload = [
                bytes((int(d) + i * 7) % 256 for i in range(int(nb) % 200 + 40))
                for d, nb in zip(pdf["doc_id"], n)
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"].values, "payload": payload})

    blobs = docs.mapInPandas(enc, "doc_id long, payload binary")
    # no final orderBy (r15): the range-sampler re-ran the Python codec
    # stage a second time; cosmetic — the gate sorts canonically
    return sample_frames(blobs, frame_bytes=32, every=3)


MM_FRAME_SAMPLE_SQL = """
WITH sizes AS (
  SELECT doc_id,
         (octet_length(encode(text)) % 200 + 40) // 32 AS n_frames
  FROM documents
),
frames AS (
  SELECT doc_id, unnest(generate_series(0, n_frames - 1)) AS frame_idx
  FROM sizes WHERE n_frames > 0
)
SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
       CAST(list_sum(list_transform(
              generate_series(frame_idx * 32, frame_idx * 32 + 31),
              i -> (doc_id + i * 7) % 256)) * 10000 // 32 AS BIGINT)
         AS mean_byte_x10000
FROM frames
WHERE frame_idx % 3 = 0
"""


_PHASH_GROUPS = 16
_PHASH_STEP = 12  # gradient step per dHash bit; 128 +/- 8*12 stays in u8


def mm_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection (mandate stage 4, the shot-boundary step
    after frame sampling): a deterministic fake 'video' payload with
    REGIME SHIFTS — byte(i) = (doc_id + i*7 + (i//64 % 2)*128) % 256,
    so the luma mean jumps every other 32-byte frame — is cut into
    frames and operators.multimodal.scene_cuts marks mean jumps >= 30
    byte levels. The numpy reshape/diff plumbing is the real video
    path; only the codec is faked (container decode is the documented
    PIL-gated stub). Deterministic integers end-to-end, so the oracle
    replays frame means AND the lag-diff thresholding exactly."""
    import pandas as pd

    from clockpipe_spark.operators.multimodal import scene_cuts

    docs = _docs(spark, sf_dir)

    def enc(batches):
        for pdf in batches:
            n = pdf["text"].map(lambda t: len(t.encode("utf-8")))
            payload = [
                bytes(
                    (int(d) + i * 7 + (i // 64 % 2) * 128) % 256
                    for i in range(int(nb) % 200 + 40)
                )
                for d, nb in zip(pdf["doc_id"], n)
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"].values, "payload": payload})

    blobs = docs.mapInPandas(enc, "doc_id long, payload binary")
    # no final orderBy (r15): cosmetic, see mm_frame_sample
    return scene_cuts(blobs, frame_bytes=32, threshold_x10000=300_000)


MM_SCENE_CUTS_SQL = """
WITH sizes AS (
  SELECT doc_id,
         (octet_length(encode(text)) % 200 + 40) // 32 AS n_frames
  FROM documents
),
frames AS (
  SELECT doc_id, unnest(generate_series(0, n_frames - 1)) AS frame_idx
  FROM sizes WHERE n_frames > 0
),
means AS (
  SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
         CAST(list_sum(list_transform(
                generate_series(frame_idx * 32, frame_idx * 32 + 31),
                i -> (doc_id + i * 7 + (i // 64 % 2) * 128) % 256))
              * 10000 // 32 AS BIGINT) AS mean_byte_x10000
  FROM frames
)
SELECT doc_id, frame_idx, mean_byte_x10000,
       abs(mean_byte_x10000 - coalesce(
         lag(mean_byte_x10000) OVER (PARTITION BY doc_id ORDER BY frame_idx),
         mean_byte_x10000)) AS jump_x10000,
       CAST(frame_idx > 0 AND abs(mean_byte_x10000 - coalesce(
         lag(mean_byte_x10000) OVER (PARTITION BY doc_id ORDER BY frame_idx),
         mean_byte_x10000)) >= 300000 AS INT) AS is_cut
FROM means
"""


def _phash_pixels(doc_id: int):
    """Deterministic 16x36 grayscale grid whose dHash equals
    md5(group) XOR one per-doc bit: cell (r, c+1) = cell (r, c) +/- STEP
    by the pattern bit, each cell a constant 2x4 pixel block so the
    block-mean downsample recovers it exactly. Same group (doc_id % 16)
    -> Hamming <= 2; different groups -> >= 22 (min pairwise pattern
    distance 24, verified offline) — so the near-dup pair set is
    analytically derivable for the oracle."""
    import hashlib

    import numpy as np

    g = doc_id % _PHASH_GROUPS
    pat = int.from_bytes(hashlib.md5(f"imggrp:{g}".encode()).digest()[:8], "little")
    pat ^= 1 << ((doc_id * 7) % 64)
    # bit i = r*8+c; pat exceeds int64 range, so extract via Python ints
    bitmat = np.array([(pat >> i) & 1 for i in range(64)]).reshape(8, 8)
    px = np.zeros((8, 9), dtype=np.int16)
    px[:, 0] = 128
    for c in range(8):
        px[:, c + 1] = px[:, c] + np.where(
            bitmat[:, c] == 1, _PHASH_STEP, -_PHASH_STEP
        )
    return np.repeat(np.repeat(px, 2, axis=0), 4, axis=1).astype(np.uint8)


def _phash_payloads_batch(doc_ids) -> list[bytes]:
    """Vectorized twin of ``encode_bmp_gray(_phash_pixels(d))`` over a
    whole Arrow batch — byte-identical output (pinned by pytest), one
    numpy pipeline instead of a per-doc Python loop (md5 runs once per
    GROUP, not per doc; the bit matrices, gradient cumsum, pixel
    upsample, BGR repeat, and bottom-up flip are all batch ops).  The
    fixture synthesis is the 'camera'; keeping it off the per-row
    Python path leaves the benched number dominated by the REAL
    decode+signature+join pipeline."""
    import hashlib
    import struct

    import numpy as np

    ids = np.asarray(doc_ids, dtype=np.int64)
    n = len(ids)
    pats = [
        int.from_bytes(hashlib.md5(f"imggrp:{g}".encode()).digest()[:8], "little")
        for g in range(_PHASH_GROUPS)
    ]
    # (groups, 64) base bit matrix, then per-doc one-bit XOR flip
    base_bits = np.array(
        [[(p >> i) & 1 for i in range(64)] for p in pats], dtype=np.int16
    )
    bits = base_bits[ids % _PHASH_GROUPS]  # (n, 64)
    bits[np.arange(n), (ids * 7) % 64] ^= 1
    deltas = np.where(
        bits.reshape(n, 8, 8) == 1, _PHASH_STEP, -_PHASH_STEP
    ).astype(np.int16)
    px = np.concatenate(
        [
            np.full((n, 8, 1), 128, dtype=np.int16),
            128 + np.cumsum(deltas, axis=2),
        ],
        axis=2,
    )  # (n, 8, 9) — identical to the scalar column recurrence
    big = np.repeat(np.repeat(px, 2, axis=1), 4, axis=2).astype(np.uint8)
    # BMP body: bottom-up row order, B=G=R triplets, zero padding
    # (w=36 -> row stride 108, already 4-byte aligned)
    body = np.repeat(big[:, ::-1, :], 3, axis=2).reshape(n, -1)
    h, w = 16, 36
    n_px = h * w * 3
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, n_px, 2835, 2835, 0, 0
    )
    header = struct.pack("<2sIHHI", b"BM", 54 + n_px, 0, 0, 54) + dib
    return [header + body[i].tobytes() for i in range(n)]


def mm_image_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate detection by perceptual hash: synthesize a
    deterministic BMP per document, REAL-decode + block-mean downsample
    + dHash (operators/multimodal.dhash_signatures), then the SAME
    banded Hamming pair join the text SimHash path uses
    (operators/neardup.banded_hamming_pairs) — the multimodal arm of
    the dedup family. Every stage a 100 TB image-dedup pipeline runs
    (decode -> signature -> band join -> popcount verify) is exercised
    for real; only the camera is faked. The fixture's construction
    makes the true pair set (same doc_id % 16 group, Hamming 0 when
    doc_id % 64 collides else 2) analytically SQL-derivable, so this is
    hash-checked, unlike the text hash families."""
    import pandas as pd

    from clockpipe_spark.operators.multimodal import dhash_signatures
    from clockpipe_spark.operators.neardup import banded_hamming_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def enc(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "payload": _phash_payloads_batch(pdf["doc_id"].values),
                }
            )

    blobs = docs.mapInPandas(enc, "doc_id long, payload binary")
    sig = dhash_signatures(blobs)
    # no final orderBy (r15): the range-sampler re-ran the band join +
    # popcount verify a second time; the gate hash-compares canonically
    # row-sorted frames, so the global sort bought nothing
    return banded_hamming_pairs(sig, "doc_id", "dhash", max_hamming=3).select(
        "doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming")
    )


MM_PHASH_SQL = f"""
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(CASE WHEN a.doc_id % 64 = b.doc_id % 64 THEN 0 ELSE 2 END AS INT)
           AS hamming
FROM documents a JOIN documents b
  ON a.doc_id % {_PHASH_GROUPS} = b.doc_id % {_PHASH_GROUPS}
 AND a.doc_id < b.doc_id
"""


QUERIES = {
    "udf_zscore_per_user": udf_zscore_per_user,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_cluster_assign_lsh": dedup_cluster_assign_lsh,
    "mm_bytes_meta": mm_bytes_meta,
    "mm_fake_image_features": mm_fake_image_features,
    "mm_bmp_decode": mm_bmp_decode,
    "mm_wav_decode": mm_wav_decode,
    "mm_audio_resample": mm_audio_resample,
    "mm_image_resize": mm_image_resize,
    "mm_frame_sample": mm_frame_sample,
    "mm_video_scene_cuts": mm_video_scene_cuts,
    "mm_image_phash_neardup": mm_image_phash_neardup,
}

ORACLES = {
    "mm_image_phash_neardup": MM_PHASH_SQL,
    "udf_zscore_per_user": UDF_ZSCORE_SQL,
    "mm_bytes_meta": MM_BYTES_META_SQL,
    "mm_fake_image_features": MM_FAKE_DECODE_SQL,
    "mm_bmp_decode": MM_BMP_SQL,
    "mm_wav_decode": MM_WAV_SQL,
    "mm_audio_resample": MM_RESAMPLE_SQL,
    "mm_image_resize": MM_RESIZE_SQL,
    "mm_frame_sample": MM_FRAME_SAMPLE_SQL,
    "mm_video_scene_cuts": MM_SCENE_CUTS_SQL,
    # r11 (VERDICT r9 directives #2/#3): the whole text hash family is
    # now oracle-pinned — the MinHash seed hash swapped from xxhash64 to
    # the md5-prefix shingle hash, and SimHash's md5-derived
    # signatures were always DuckDB-replayable via md5_number_upper.
    # Recall-vs-exact pytest coverage unchanged (seed-agnostic).
    "dedup_minhash_lsh": DEDUP_MINHASH_SQL,
    "dedup_cluster_assign_lsh": DEDUP_CLUSTER_LSH_SQL,
    "dedup_simhash": DEDUP_SIMHASH_SQL,
    # mm_fake_image_features oracle is valid because the documents corpus
    # is pure ASCII (verified at every sf) so per-char ascii() == bytes.
}
