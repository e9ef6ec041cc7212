"""Approximate dedup correctness: MinHash-LSH and SimHash recall against
ground truth on handcrafted + fixture corpora."""

from __future__ import annotations

from pyspark.sql import functions as F

from clockpipe_spark.operators.neardup import (
    minhash_lsh_pairs,
    minhash_signatures,
    simhash_neardup_pairs,
    simhash_signatures,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from a warm windowsill in the late afternoon sun"
)


def test_minhash_identical_docs_always_pair(spark):
    docs = _docs(spark, [(1, BASE), (2, BASE), (3, "completely different words here entirely")])
    pairs = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(docs).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_minhash_estimate_tracks_true_jaccard(spark):
    # doc 2 = doc 1 with a small edit -> high (not 1.0) estimated jaccard
    # (est_jaccard is floor(est * 1e4) — the engine-portable rendering)
    edited = BASE.replace("lazy dog", "sleepy wolf")
    docs = _docs(spark, [(1, BASE), (2, edited)])
    rows = minhash_lsh_pairs(docs, threshold=0.3).collect()
    assert len(rows) == 1
    assert 4000 <= rows[0]["est_jaccard"] <= 10000


def test_minhash_signature_deterministic(spark):
    docs = _docs(spark, [(1, BASE)])
    s1 = minhash_signatures(docs).first()["minhash"]
    s2 = minhash_signatures(docs).first()["minhash"]
    assert s1 == s2 and len(s1) == 32


def test_simhash_identical_zero_hamming(spark):
    docs = _docs(spark, [(1, BASE), (2, BASE)])
    rows = simhash_neardup_pairs(docs).collect()
    assert len(rows) == 1 and rows[0]["hamming"] == 0


def test_simhash_signature_deterministic_and_bitstable(spark):
    docs = _docs(spark, [(1, BASE)])
    a = simhash_signatures(docs).first()["simhash"]
    b = simhash_signatures(docs).first()["simhash"]
    assert a == b


def test_minhash_recall_vs_exact_on_fixture(spark, sf_dir):
    """On the doubled documents corpus, LSH must find every exact-Jaccard
    >= 0.5 pair (clones collide in all bands; near-pairs in >=1 band)."""
    from clockpipe_spark.queries.approximate import dedup_minhash_lsh
    from clockpipe_spark.queries.textops import neardup_jaccard_pairs

    exact = {
        (r["doc_a"], r["doc_b"])
        for r in neardup_jaccard_pairs(spark, sf_dir).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"]) for r in dedup_minhash_lsh(spark, sf_dir).collect()
    }
    assert exact, "fixture must produce ground-truth pairs"
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.95, f"recall {recall:.3f}"


# -- the mapInArrow signature pass against the Spark-expression aggregate it
# replaced, kept here as the reference: split(trim(lower(text)), '\s+'),
# distinct 3-shingles, md5-prefix hash, 32 (a*h+b) % p minima per doc ---------

AWKWARD = [
    "",
    "hi",
    "ok then",
    "Tabs\tand\tspaces  mixed   here",
    "\tleading tab keeps an empty token",
    "trailing tab keeps one too\t",
    "   spaces trim   only spaces   ",
    "vt\x0bff\x0ccr\rnl\nall split",
    "file\x1cseparator is not whitespace for java",
    "nbsp stays inside a token here",
    "ideographic　space stays inside too",
    "İstanbul İzmir DOTTED capital i",
    "GROẞE STRAẞE ẞ sharp s",
    "ΟΔΟΣ ΣΑΣ final sigma ΑΣ Σ",
    "emoji 😀 and 👍🏽 in text ok",
    "ǅ ǈ ǋ titlecase digraphs Ω K Å",
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy dog",
    "repeat repeat repeat repeat repeat",
    None,
]


def _reference_signatures(docs, n_hashes=32):
    from clockpipe_spark.operators.neardup import _P32, _perm_params, shingles_from_tokens

    toks = docs.select("doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("toks"))
    sh = toks.select("doc_id", F.explode(shingles_from_tokens(F.col("toks"))).alias("s"))
    sh = sh.select(
        "doc_id", F.conv(F.substring(F.md5("s"), 1, 8), 16, 10).cast("long").alias("h32")
    )
    mins = [
        F.expr(f"min((h32 * {a}L + {b}L) % {_P32}L) AS m{i}")
        for i, (a, b) in enumerate(_perm_params(n_hashes))
    ]
    return {
        r["doc_id"]: list(r[1:])
        for r in sh.groupBy("doc_id").agg(*mins).collect()
    }


def test_signature_pass_is_bit_identical_to_spark_aggregate(spark):
    docs = _docs(spark, list(enumerate(AWKWARD)))
    got = {r["id"]: r["minhash"] for r in minhash_signatures(docs).collect()}
    want = _reference_signatures(docs)
    assert got == want
    # docs with < 3 tokens carry no signature in either form
    assert {0, 1, 2, len(AWKWARD) - 1}.isdisjoint(got)


def test_signature_pass_bounds_its_matrix_by_shingles(monkeypatch):
    """A batch past the shingle budget is signed in runs of rows, one
    output batch each, with the same signatures as in one run."""
    import pyarrow as pa

    from clockpipe_spark.operators import neardup as nd

    toks = [t.lower().split() if t is not None else None for t in AWKWARD]
    rb = pa.record_batch({"id": list(range(len(toks))), "toks": toks})
    one = list(nd._minhash_batches("toks", "m", 32)(iter([rb])))
    monkeypatch.setattr(nd, "_SHINGLE_BUDGET", 4)
    runs = list(nd._minhash_batches("toks", "m", 32)(iter([rb])))
    assert len(one) == 1 and len(runs) > 3
    assert pa.Table.from_batches(runs).equals(pa.Table.from_batches(one))


def test_signature_pass_matches_aggregate_on_fixture_corpus(spark, sf_dir):
    from clockpipe_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    got = {r["id"]: r["minhash"] for r in minhash_signatures(docs).collect()}
    assert got and got == _reference_signatures(docs)


def test_release_after_session_stop_only_clears_registry():
    """A stopped session took its cached frames with it, and an unpersist
    there raises: release_signature_caches() then only empties the
    registry. Runs in its own process, since it stops its session."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from clockpipe_spark.session import get_spark\n"
        "from clockpipe_spark.operators import neardup as nd\n"
        "spark = get_spark('stopped', master='local[1]', shuffle_partitions=1)\n"
        "df = spark.range(3).cache()\n"
        "df.count()\n"
        "nd._register_sig_cache(df)\n"
        "spark.stop()\n"
        "print('released', nd.release_signature_caches(), len(nd._SIG_CACHES))\n"
    )
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    run = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300, env=env
    )
    assert run.returncode == 0, run.stderr[-2000:]
    assert "released 1 0" in run.stdout


def test_signature_pass_runs_where_the_package_is_not_importable(tmp_path):
    """Spark's Python workers may start where this package is not on the
    path: the pickled pass must carry everything it calls."""
    import subprocess
    import sys

    import cloudpickle

    from clockpipe_spark.operators.neardup import _minhash_batches

    blob = tmp_path / "pass.pkl"
    blob.write_bytes(cloudpickle.dumps(_minhash_batches("toks", "minhash", 32)))
    script = (
        "import sys, cloudpickle, pyarrow as pa\n"
        "f = cloudpickle.loads(open(sys.argv[1], 'rb').read())\n"
        "rb = pa.record_batch({'id': [1, 2], 'toks': [list('abcd'), ['hi']]})\n"
        "rb = next(f(iter([rb])))\n"
        "sig = rb.column('minhash').to_pylist()\n"
        "assert 'clockpipe_spark' not in sys.modules\n"
        "print(rb.schema.names, len(sig[0]), sig[1])\n"
    )
    run = subprocess.run(
        [sys.executable, "-c", script, str(blob)],
        capture_output=True, text=True, cwd=tmp_path, timeout=120,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    assert run.stdout.split() == ["['id',", "'minhash']", "32", "None"]
