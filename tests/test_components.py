"""Connected components: min-label propagation over a pair graph, and
the O(log n) star-contraction twin."""

from __future__ import annotations

import pytest

from clockpipe_spark.operators.components import (
    ComponentsDidNotConverge,
    connected_components,
    connected_components_star,
)


def _cc(spark, n_vertices, edge_rows, fn=connected_components, **kw):
    vertices = spark.createDataFrame([(i,) for i in n_vertices], "id long")
    edges = spark.createDataFrame(edge_rows or [], "src long, dst long")
    out = fn(vertices, edges, **kw)
    return {r["id"]: r["lbl"] for r in out.collect()}


def test_chain_converges_to_min(spark):
    # 1-2-3-4 chain needs multiple propagation rounds; 9 is isolated
    got = _cc(spark, [1, 2, 3, 4, 9], [(1, 2), (2, 3), (3, 4)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 9: 9}


def test_two_components_and_direction_irrelevant(spark):
    # edges in arbitrary direction; two separate clusters
    got = _cc(spark, [1, 2, 3, 10, 11, 12], [(2, 1), (3, 2), (12, 10), (11, 12)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_no_edges_all_singletons(spark):
    got = _cc(spark, [5, 6, 7], [])
    assert got == {5: 5, 6: 6, 7: 7}


@pytest.mark.parametrize("fn", [connected_components, connected_components_star])
def test_empty_edge_set(spark, fn):
    assert _cc(spark, [5, 6, 7], [], fn=fn) == {5: 5, 6: 6, 7: 7}


@pytest.mark.parametrize("fn", [connected_components, connected_components_star])
def test_empty_vertex_and_edge_sets(spark, fn):
    assert _cc(spark, [], [], fn=fn) == {}


def test_cycle(spark):
    got = _cc(spark, [1, 2, 3], [(1, 2), (2, 3), (3, 1)])
    assert got == {1: 1, 2: 1, 3: 1}


def test_exhausted_budget_raises_not_silently_wrong(spark):
    # a 6-node chain can't finish in 1 round; partial labels must not
    # escape as if they were clusters (ADVICE r4)
    with pytest.raises(ComponentsDidNotConverge):
        _cc(spark, list(range(6)), [(i, i + 1) for i in range(5)], max_iter=1)


def test_star_matches_min_label_on_all_shapes(spark):
    cases = [
        ([1, 2, 3, 4, 9], [(1, 2), (2, 3), (3, 4)]),
        ([1, 2, 3, 10, 11, 12], [(2, 1), (3, 2), (12, 10), (11, 12)]),
        ([5, 6, 7], []),
        ([1, 2, 3], [(1, 2), (2, 3), (3, 1)]),
    ]
    for verts, edges in cases:
        exact = _cc(spark, verts, edges)
        star = _cc(spark, verts, edges, fn=connected_components_star)
        assert star == exact, (verts, edges)


def test_star_contraction_handles_long_chain_in_log_rounds(spark):
    # 64-node chain: min-label needs 63 rounds (raises at 20); star
    # contraction reaches the fixed point within its default budget of
    # 20 ≈ O(log n) rounds (Kiveris et al.)
    n = 64
    verts = list(range(n))
    edges = [(i, i + 1) for i in range(n - 1)]
    with pytest.raises(ComponentsDidNotConverge):
        _cc(spark, verts, edges, max_iter=20)
    got = _cc(spark, verts, edges, fn=connected_components_star)
    assert got == {i: 0 for i in range(n)}


def test_cluster_assign_query_semantics(spark, sf_dir):
    """Registry query: every doc labeled, cluster_id <= doc_id, exactly
    one canonical doc per cluster, and every near-dup pair lands in the
    same cluster."""
    from clockpipe_spark.queries.textops import (
        dedup_cluster_assign,
        neardup_jaccard_pairs,
    )

    out = dedup_cluster_assign(spark, sf_dir).collect()
    lbl = {r["doc_id"]: r["cluster_id"] for r in out}
    assert all(c <= d for d, c in lbl.items())
    canon = [r["doc_id"] for r in out if r["is_canonical"]]
    assert sorted(canon) == sorted(set(lbl.values()))
    pairs = neardup_jaccard_pairs(spark, sf_dir).collect()
    assert pairs, "fixture must contain near-dup pairs"
    assert all(lbl[p["doc_a"]] == lbl[p["doc_b"]] for p in pairs)


def test_lsh_cluster_recall_vs_exact(spark, sf_dir):
    """Scale-path twin: >=95% of exact-Jaccard near-dup pairs must land
    in the same LSH-edged cluster (LSH recall carries through the
    component step)."""
    from clockpipe_spark.queries.approximate import dedup_cluster_assign_lsh
    from clockpipe_spark.queries.textops import neardup_jaccard_pairs

    lbl = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_cluster_assign_lsh(spark, sf_dir).collect()
    }
    pairs = neardup_jaccard_pairs(spark, sf_dir).collect()
    assert pairs
    hit = sum(1 for p in pairs if lbl[p["doc_a"]] == lbl[p["doc_b"]])
    assert hit / len(pairs) >= 0.95, f"recall {hit}/{len(pairs)}"


def test_components_chain_query_vs_analytic(spark, sf_dir):
    """The registry chain-stress query: star contraction's labels must
    equal the analytically-derived component mins (min doc_id per
    _CHAIN_LEN-sized row_number block), and the SAME fixture must blow
    naive propagation's round budget — the gate evidence that the
    O(log n) path handles graphs the O(diameter) path cannot."""
    import pytest
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from clockpipe_spark.catalog import load_table
    from clockpipe_spark.operators.components import (
        ComponentsDidNotConverge,
        connected_components,
    )
    from clockpipe_spark.queries.textops import _CHAIN_LEN, dedup_components_chain

    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_components_chain(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    rows = [
        r["doc_id"]
        for r in docs.orderBy("doc_id").collect()
    ]
    expect = {
        d: rows[(i // _CHAIN_LEN) * _CHAIN_LEN] for i, d in enumerate(rows)
    }
    assert got == expect
    assert len(set(got.values())) > 1, "fixture must yield multiple chains"

    # rebuild the same edge fixture and pin that naive propagation raises
    rn = docs.withColumn("rn", F.row_number().over(Window.orderBy("doc_id")) - 1)
    nxt = rn.select(F.col("doc_id").alias("dst"), F.col("rn").alias("rn_next"))
    edges = (
        rn.filter((F.col("rn") % _CHAIN_LEN) != _CHAIN_LEN - 1)
        .withColumn("rn_next", F.col("rn") + F.lit(1))
        .join(nxt, "rn_next")
        .select(F.col("doc_id").alias("src"), "dst")
    )
    with pytest.raises(ComponentsDidNotConverge):
        connected_components(docs, edges, id_col="doc_id", src="src", dst="dst")


def test_star_helpers_set_equal_to_union_reference(spark):
    """r21 internals pin: the single-reference explode forms of
    _large_star/_small_star must be SET-equal to the r20 two-branch
    union formulations on a messy edge multiset (dupes, both
    orientations, self-loops)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from clockpipe_spark.operators.components import _large_star, _small_star

    edges = [
        (5, 1), (1, 5), (7, 7), (3, 2), (2, 3), (9, 2), (9, 8),
        (8, 1), (4, 4), (6, 2), (2, 6), (10, 3), (10, 3), (12, 11),
    ]
    e = spark.createDataFrame(edges, "u long, v long").filter("u != v")

    # r20 reference formulations, inlined
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mw = sym.select(
        "u",
        "v",
        F.least(F.min("v").over(Window.partitionBy("u")), F.col("u")).alias("m"),
    )
    ref_large = (
        mw.filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    got_large = _large_star(e)
    assert {(r["u"], r["v"]) for r in got_large.collect()} == {
        (r["u"], r["v"]) for r in ref_large.collect()
    }

    oriented = e.select(
        F.greatest("u", "v").alias("gu"), F.least("u", "v").alias("gv")
    ).select(F.col("gu").alias("u"), F.col("gv").alias("v"))
    mw2 = oriented.select(
        "u", "v", F.min("v").over(Window.partitionBy("u")).alias("m")
    )
    ref_small = (
        mw2.select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(mw2.filter(F.col("v") == F.col("m")).select("u", F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    got_small = _small_star(e)
    assert {(r["u"], r["v"]) for r in got_small.collect()} == {
        (r["u"], r["v"]) for r in ref_small.collect()
    }
