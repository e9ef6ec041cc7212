"""Vector/embedding primitives: cosine similarity as a pure Catalyst
expression, plus multi-table hyperplane LSH, IVF and PQ (Arrow-vectorized).

The exact path (zip_with + aggregate fold) stays JVM-side in whole-stage
codegen; LSH bucket assignment uses one pandas UDF doing a single numpy
matmul per Arrow batch — the canonical vectorized-UDF shape (never
row-at-a-time Python).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def as_double_array(col: Column) -> Column:
    return col.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Elementwise product + left-fold sum — same evaluation order as a
    plain loop, so it agrees bit-for-bit with other engines' accumulation."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm_sq(a: Column) -> Column:
    return dot(a, a)


def cosine(a: Column, b: Column) -> Column:
    """cos(a, b) = a·b / sqrt(|a|² · |b|²), computed in double.

    NOTE: evaluates three array folds per call — inside a pair join,
    precompute each side's norm² once (see cosine_prenormed) so only the
    dot product runs per pair.
    """
    return dot(a, b) / F.sqrt(l2_norm_sq(a) * l2_norm_sq(b))


def cosine_prenormed(a: Column, b: Column, a_norm_sq: Column, b_norm_sq: Column) -> Column:
    """Pair-join cosine with per-side norms precomputed before the join —
    the join output evaluates one fold (the dot) instead of three."""
    return dot(a, b) / F.sqrt(a_norm_sq * b_norm_sq)


def ivf_assigner(centroids: np.ndarray, nprobe: int = 1, deterministic: bool = True):
    """IVF coarse quantizer: pandas UDF mapping a vector to its `nprobe`
    nearest centroid ids (by cosine). One matmul per Arrow batch.

    `centroids` is a (K, dim) matrix — at scale it comes from a k-means
    sample pass; the caller owns that choice (the operator is agnostic).

    ``deterministic=False`` (r20, guide §4.4): the function is in fact
    deterministic, but when its output feeds an equi-join key the
    optimizer infers ``isnotnull(element_at(assign(...), 1))`` from the
    join and pushes it below the fan-out exchange — duplicating the
    whole K-centroid matmul over every corpus row (a second
    ArrowEvalPython node whose output is projected away immediately).
    Marking the UDF non-deterministic forbids that copy; results are
    unchanged. Only opt in for Project-context calls — a
    non-deterministic expression under ``explode`` (the nprobe>1 query
    side) is rejected at analysis."""
    norms = np.linalg.norm(centroids, axis=1)
    normed = centroids / np.maximum(norms[:, None], 1e-12)

    @pandas_udf("array<int>")
    def assign(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy())  # (batch, dim)
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1)[:, None], 1e-12)
        sims = mat @ normed.T  # (batch, K)
        idx = np.argsort(-sims, axis=1)[:, :nprobe].astype(np.int32)
        return pd.Series(list(idx))

    return assign if deterministic else assign.asNondeterministic()


def kmeans_lite(sample: np.ndarray, k: int, n_iter: int = 5, seed: int = 42) -> np.ndarray:
    """Tiny deterministic k-means for IVF centroid training on a driver-
    side sample (spherical: cosine assignment, mean re-centering). At
    100 TB the sample is a few 100k rows — this exact routine still
    applies; only the sampling is distributed."""
    rng = np.random.RandomState(seed)
    X = sample / np.maximum(np.linalg.norm(sample, axis=1)[:, None], 1e-12)
    centroids = X[rng.choice(len(X), size=k, replace=False)]
    for _ in range(n_iter):
        sims = X @ centroids.T
        assign = np.argmax(sims, axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                c = members.mean(axis=0)
                centroids[j] = c / max(np.linalg.norm(c), 1e-12)
    return centroids


def kmeans_refine_distributed(
    df,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    n_iter: int = 2,
) -> np.ndarray:
    """Distributed Lloyd refinement rounds for spherical k-means.

    Per round: ONE shuffle-free mapInPandas pass (r21, guide §2.3/§4.5 —
    the gram_matrix_distributed pattern). Each task assigns its batches
    to cells with the same matmul+argsort ivf_assigner uses, accumulates
    per-cell unit-vector sums and counts across its batches, and emits a
    single K x (dim+1) partial row; the driver sums the partials and
    re-normalizes. This replaces the r20 shape (separate Arrow
    assignment UDF + a K-group hash aggregate with dim avg buffers),
    which traded the old posexplode's 64x row amplification for a
    64-column aggregate Catalyst had to analyze per round — the driver's
    r20 bench read that trade as a 25% REGRESSION at sf0.1 where the
    query is compile-bound. Now there is no aggregate to analyze and no
    exchange at all: the only data movement is partitions x K x (dim+1)
    doubles to the driver, independent of corpus size (the same budget
    gram_matrix_distributed has; at extreme partition counts insert a
    tree level, same as any partial-aggregation collect). Addends are
    unchanged — assignment replicates ivf_assigner bit-for-bit (raw
    dtype normalization, argsort tie-breaking) and the summed values are
    the double-cast unit vectors the old avg consumed; only fp merge
    order differs, which the 98%-agreement pin and rows-only gate
    already tolerate.

    Input contract: fixed-length vectors (dim must match ``centroids``);
    np.vstack raises on ragged input rather than silently averaging the
    positions present.
    """
    import pandas as pd

    k, dim = centroids.shape
    out_schema = "cnt array<long>, s array<double>"
    for _ in range(n_iter):
        norms = np.linalg.norm(centroids, axis=1)
        normed = centroids / np.maximum(norms[:, None], 1e-12)

        def partial(batches, _normed=normed, _k=k, _dim=dim, _col=vec_col):
            acc = np.zeros((_k, _dim))
            cnt = np.zeros(_k, dtype=np.int64)
            onehot_eye = np.eye(_k)
            saw = False
            for pdf in batches:
                if not len(pdf):
                    continue
                saw = True
                mat = np.vstack(pdf[_col].to_numpy())  # raw dtype, like ivf_assigner
                matn = mat / np.maximum(
                    np.linalg.norm(mat, axis=1)[:, None], 1e-12
                )
                sims = matn @ _normed.T  # (b, K) float64
                cells = np.argsort(-sims, axis=1)[:, 0]  # ivf_assigner's pick
                # spherical: sum the double-cast UNIT vectors (what the
                # old avg(element_at(e,i)/nrm) consumed)
                md = mat.astype(np.float64)
                unit = md / np.maximum(
                    np.sqrt((md * md).sum(axis=1)), 1e-12
                )[:, None]
                onehot = onehot_eye[cells]  # (b, K)
                acc += onehot.T @ unit
                cnt += np.bincount(cells, minlength=_k)
            if saw:
                yield pd.DataFrame(
                    {"cnt": [cnt.tolist()], "s": [acc.ravel().tolist()]}
                )

        rows = df.select(vec_col).mapInPandas(partial, out_schema).collect()
        total_cnt = np.zeros(k, dtype=np.int64)
        total_sum = np.zeros((k, dim))
        for r in rows:
            total_cnt += np.asarray(r["cnt"], dtype=np.int64)
            total_sum += np.asarray(r["s"]).reshape(k, dim)
        new_c = centroids.copy()
        for j in np.nonzero(total_cnt)[0]:
            m = total_sum[j] / total_cnt[j]
            # empty cells keep their previous centroid; others re-normalize
            new_c[j] = m / max(np.linalg.norm(m), 1e-12)
        centroids = new_c
    return centroids


def gram_matrix_distributed(df, vec_col: str = "embedding") -> np.ndarray:
    """(dim x dim) Gram matrix X^T X plus the column-sum vector and row
    count, computed as ONE pass: each partition emits its partial numpy
    accumulators (mapInPandas -> a single flattened row per batch), the
    driver sums them. The shuffle-free distributed-covariance shape —
    data volume to the driver is partitions x dim², independent of n.

    Returns (gram, colsum, n)."""
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F401

    def partial(batches):
        for pdf in batches:
            mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            g = mat.T @ mat
            s = mat.sum(axis=0)
            yield pd.DataFrame(
                {
                    "n": [float(len(mat))],
                    "payload": [np.concatenate([g.ravel(), s]).tolist()],
                }
            )

    rows = (
        df.select(vec_col)
        .mapInPandas(partial, "n double, payload array<double>")
        .collect()
    )
    if not rows:
        raise ValueError("empty input")
    dim = int((np.sqrt(4 * len(rows[0]["payload"]) + 1) - 1) // 2)  # d²+d
    gram = np.zeros((dim, dim))
    colsum = np.zeros(dim)
    n = 0
    for r in rows:
        p = np.asarray(r["payload"])
        gram += p[: dim * dim].reshape(dim, dim)
        colsum += p[dim * dim :]
        n += int(r["n"])
    return gram, colsum, n


def pca_projector(components: np.ndarray, mean: np.ndarray):
    """pandas UDF projecting each vector onto the fitted principal
    components (one centered matmul per Arrow batch)."""
    import pandas as pd

    comp = components.astype(np.float64)
    mu = mean.astype(np.float64)

    @pandas_udf("array<double>")
    def project(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy()).astype(np.float64) - mu
        return pd.Series(list(mat @ comp.T))

    return project


def pq_codebooks(
    sample: np.ndarray, n_subspaces: int = 4, n_centroids: int = 16, seed: int = 42
) -> np.ndarray:
    """Product-quantization codebooks: the dim axis splits into
    ``n_subspaces`` contiguous sub-vectors, each clustered independently
    with a deterministic k-means on the (driver-side) training sample.
    Returns (n_subspaces, n_centroids, sub_dim). Euclidean k-means per
    subspace — the PQ standard (Jégou et al. 2011), unlike the spherical
    variant used for IVF coarse quantization."""
    n, dim = sample.shape
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by {n_subspaces} subspaces")
    sub = dim // n_subspaces
    rng = np.random.RandomState(seed)
    books = np.empty((n_subspaces, n_centroids, sub))
    for m in range(n_subspaces):
        X = sample[:, m * sub : (m + 1) * sub]
        c = X[rng.choice(n, size=n_centroids, replace=False)].copy()
        for _ in range(8):
            d2 = ((X[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for j in range(n_centroids):
                members = X[assign == j]
                if len(members):
                    c[j] = members.mean(axis=0)
        books[m] = c
    return books


def pq_encoder(books: np.ndarray):
    """pandas UDF mapping a vector to its PQ code (array<int>, one
    centroid id per subspace) plus nothing else — one distance matmul
    per subspace per Arrow batch. At 100 TB the codes are the stored
    index: dim×4 bytes/vector compresses to n_subspaces bytes."""
    import pandas as pd

    n_sub, k, sub = books.shape

    @pandas_udf("array<int>")
    def encode(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy()).astype(np.float64)  # (b, dim)
        codes = np.empty((len(mat), n_sub), dtype=np.int32)
        for m in range(n_sub):
            X = mat[:, m * sub : (m + 1) * sub]
            # ||x-c||² = ||x||² - 2x·c + ||c||²; argmin drops ||x||²
            d = -2.0 * (X @ books[m].T) + (books[m] ** 2).sum(axis=1)[None, :]
            codes[:, m] = np.argmin(d, axis=1)
        return pd.Series(list(codes))

    return encode


def pq_decoder(books: np.ndarray):
    """pandas UDF reconstructing the quantized vector from its code —
    used to measure reconstruction error and for asymmetric distance
    scoring at query time."""
    import pandas as pd

    n_sub, k, sub = books.shape

    @pandas_udf("array<double>")
    def decode(codes: pd.Series) -> pd.Series:
        arr = np.vstack(codes.to_numpy())  # (b, n_sub)
        out = np.concatenate(
            [books[m][arr[:, m]] for m in range(n_sub)], axis=1
        )
        return pd.Series(list(out))

    return decode


def multitable_lsh_bucketizer(
    dim: int, n_tables: int = 8, n_bits: int = 4, seed: int = 42
):
    """Multi-table hyperplane LSH: array<long> of `n_tables` bucket ids
    (table index baked into the id). A single wide bucket has vanishing
    collision probability for moderate-similarity vectors (p^bits); the
    union over L narrow tables restores recall: 1-(1-p^bits)^L.

    One (batch × dim) @ (dim × tables*bits) matmul per Arrow batch.
    """
    planes = np.random.RandomState(seed).randn(dim, n_tables * n_bits)
    bit_w = (1 << np.arange(n_bits)).astype(np.int64)

    @pandas_udf("array<long>")
    def buckets(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy())  # (batch, dim)
        bits = ((mat @ planes) >= 0).reshape(len(mat), n_tables, n_bits)
        codes = bits @ bit_w  # (batch, n_tables)
        table_base = (np.arange(n_tables, dtype=np.int64) + 1) << 32
        ids = codes + table_base
        return pd.Series(list(ids))

    return buckets
